package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

import graft.functions.ParquetFooters

/** `Tables` opens a table from its footer: the schema it passes to the
  * reader equals the one Spark infers, and no Spark job runs. */
class TablesSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One parquet file at `file` with `ts` written as `tsType`, no Spark
    * row metadata in the footer (the converter path). */
  private def writeEvents(file: String, tsType: String, ts: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; optional int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", ts))
    finally w.close()
  }

  test("every testdata table: the footer schema equals Spark's inferred schema, and no job runs") {
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1").filter(d => new java.io.File(sf(d)).isDirectory)
    assert(sfs.contains("sf0.001"))
    for (d <- sfs; t <- Tables.names) {
      val path = s"${sf(d)}/$t.parquet"
      val (inferred, inferJobs) = jobsDuring(spark.read.parquet(path).schema)
      assert(inferJobs >= 1, "the listener must see Spark's inference job")
      assert(ParquetFooters.schema(spark, path) == inferred, path)
      val (opened, jobs) = jobsDuring(Tables(spark, sf(d), t).schema)
      assert(jobs == 0, s"$path: Tables started $jobs job(s)")
      if (t != "events") assert(opened == inferred, path)
      else {
        assert(opened("ts").dataType == TimestampType, path)
        assert(opened.fieldNames.toSeq == inferred.fieldNames.toSeq, path)
      }
    }
  }

  test("events.ts: NANOS reads as LONG under nanosAsLong, MICROS as TIMESTAMP_NTZ; both open as µs TIMESTAMP") {
    val ns = 1700000000123456789L
    for ((tsType, raw) <- Seq("TIMESTAMP(NANOS,false)" -> LongType,
        "TIMESTAMP(MICROS,false)" -> TimestampNTZType)) {
      val dir = tmp("graft_tables_ts")
      val path = s"$dir/events.parquet"
      writeEvents(path, tsType, if (raw == LongType) ns else ns / 1000)
      val inferred = spark.read.parquet(path).schema
      assert(inferred("ts").dataType == raw, tsType)
      assert(ParquetFooters.schema(spark, path) == inferred, tsType)
      val (df, jobs) = jobsDuring(Tables(spark, dir, "events"))
      assert(jobs == 0, tsType)
      assert(df.schema("ts").dataType == TimestampType, tsType)
      val micros = df.selectExpr("unix_micros(ts)").head().getLong(0)
      assert(micros == ns / 1000, tsType)
    }
  }

  test("a Spark-written directory: non-nullable columns, the row-metadata footer, _common_metadata first") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(StructField("x", IntegerType, nullable = false))),
        nullable = false),
      StructField("note", StringType)))
    val rows = java.util.Arrays.asList(Row(1L, Row(2), "a"), Row(3L, Row(4), null))
    val dir = tmp("graft_tables_dir")
    val path = s"$dir/t.parquet"
    spark.createDataFrame(rows, schema).repartition(2).write.parquet(path)
    val inferred = spark.read.parquet(path).schema
    assert(inferred == graftbridge.asNullable(schema))
    assert(ParquetFooters.schema(spark, path) == inferred)
    val (df, jobs) = jobsDuring(Tables(spark, dir, "t"))
    assert(jobs == 0)
    assert(df.schema == inferred)
    assert(df.orderBy("id").collect().toSeq == Seq(Row(1L, Row(2), "a"), Row(3L, Row(4), null)))

    // a `_common_metadata` footer wins over the data files, as in Spark
    val other = s"$dir/other.parquet"
    spark.range(1).selectExpr("id", "'x' AS extra").write.parquet(other)
    val otherFile = new java.io.File(other).listFiles().find(_.getName.startsWith("part-")).get
    Files.copy(otherFile.toPath, new java.io.File(s"$path/_common_metadata").toPath)
    val withSummary = spark.read.parquet(path).schema
    assert(withSummary.fieldNames.toSeq == Seq("id", "extra"))
    assert(ParquetFooters.schema(spark, path) == withSummary)
  }

  test("a missing table fails before any job, naming its path") {
    val dir = tmp("graft_tables_missing")
    val (err, jobs) = jobsDuring(intercept[java.io.FileNotFoundException](
      Tables(spark, dir, "lineitem")))
    assert(jobs == 0)
    assert(err.getMessage.contains(s"$dir/lineitem.parquet"), err.getMessage)
  }

  test("events.ts of any other type fails the open, naming the type") {
    val dir = tmp("graft_tables_str")
    spark.range(1).selectExpr("id AS event_id", "'2024-01-01' AS ts")
      .write.parquet(s"$dir/events.parquet")
    val err = intercept[IllegalArgumentException](Tables(spark, dir, "events"))
    assert(err.getMessage.contains("STRING"), err.getMessage)
  }
}
