package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.types._

/** Checkpoint recovery ≙ the reference's `start=` state-restore contract
  * (tested per aggregation at test_dataframes.py:993-1101): a stateful
  * query stopped and restarted from its checkpoint continues the
  * accumulator exactly where it left off. Also pins the RocksDB state
  * store provider — the spill-able state backend the 100 TB deployment
  * would run with.
  */
class RecoverySpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("key", IntegerType), StructField("seq", LongType),
    StructField("v", DoubleType)))

  private def writeBatch(dir: String, rows: (Int, Long, Double)*): Unit =
    rows.toSeq.toDF("key", "seq", "v").coalesce(1)
      .write.mode("append").parquet(dir)

  /** File-source → stateful scan → exactly-once parquet file sink. */
  private def startScan(srcDir: String, ckpt: String, outDir: String) = {
    val ds = spark.readStream.schema(schema).parquet(srcDir)
      .selectExpr("key as _1", "seq as _2", "v as _3").as[(Int, Long, Double)]
    Stateful.scan(ds, 0.0) { (s, v) => val s2 = s + v; (s2, s2) }
      .toDF("key", "seq", "cumsum")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
  }

  private def readOut(outDir: String): Seq[(Int, Long, Double)] =
    spark.read.parquet(outDir).as[(Int, Long, Double)].collect()
      .sortBy(r => (r._1, r._2)).toSeq

  test("scan state survives a query restart from the checkpoint") {
    val src = Files.createTempDirectory("graft_rec_src").toString
    val ckpt = Files.createTempDirectory("graft_rec_ckpt").toString
    val out = Files.createTempDirectory("graft_rec_out").toString
    writeBatch(src, (1, 1L, 1.0), (1, 2L, 2.0), (2, 1L, 10.0))
    val q1 = startScan(src, ckpt, out)
    q1.processAllAvailable(); q1.stop()
    assert(readOut(out) == Seq((1, 1L, 1.0), (1, 2L, 3.0), (2, 1L, 10.0)))

    // restart from the same checkpoint: the new rows continue each key's
    // cumsum from recovered state (and nothing is re-emitted twice)
    writeBatch(src, (1, 3L, 4.0), (2, 2L, 5.0))
    val q2 = startScan(src, ckpt, out)
    q2.processAllAvailable(); q2.stop()
    assert(readOut(out) == Seq(
      (1, 1L, 1.0), (1, 2L, 3.0), (1, 3L, 7.0), (2, 1L, 10.0), (2, 2L, 15.0)))
  }

  test("stateful ops run on the RocksDB state store provider") {
    withRocksDBState {
      val src = Files.createTempDirectory("graft_rocks_src").toString
      val ckpt = Files.createTempDirectory("graft_rocks_ckpt").toString
      val out = Files.createTempDirectory("graft_rocks_out").toString
      writeBatch(src, (1, 1L, 1.0), (1, 2L, 2.0))
      val q = startScan(src, ckpt, out)
      q.processAllAvailable(); q.stop()
      assert(readOut(out) == Seq((1, 1L, 1.0), (1, 2L, 3.0)))
    }
  }
}
