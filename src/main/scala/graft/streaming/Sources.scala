package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Source surface (SURVEY §2.2). The reference's Kafka machinery —
  * per-partition offset ranges, commit-after-write, partition discovery
  * (sources.py:483-716) — is Structured Streaming's Kafka source verbatim,
  * so these are thin declarative wrappers; the checkpoint dir carries the
  * offset/commit logs that RefCounter implemented by hand.
  */
object Sources {

  /** from_periodic/PeriodicDataFrame (sources.py:85, dataframe/core.py:949):
    * rowsPerSecond ticks with a timestamp + value column.
    */
  def periodic(spark: SparkSession, rowsPerSecond: Long = 1): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  /** Random/random_datablock (dataframe/core.py:1029-1074, 957-977): the
    * reference's quick-start demo source — a periodic stream of random
    * rows with `x` uniform on [0,1), `y` Poisson(λ=1), `z` standard
    * normal, plus the rate source's `timestamp`. Built on `rate` +
    * column arithmetic (uniform from a seeded hash of the row id;
    * Poisson by inverse-CDF walk over the first 8 terms, exact to
    * P(y ≤ 7) ≈ 1 − 1e-8 at λ=1; normal via Box-Muller on two
    * independent uniforms) so the stream is pure plan — no UDF, no
    * driver loop, reproducible per row id under `seed`.
    */
  def random(spark: SparkSession, rowsPerSecond: Long = 10, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    // three independent uniforms from salted 64-bit hashes of the row id
    // (pmod, not abs-then-%: abs(Long.MinValue) is still negative and
    // would leak a value outside [0, 1))
    def u(salt: String) =
      pmod(xxhash64(col("value"), lit(seed), lit(salt)), lit(1000000000L))
        .cast("double") / 1e9
    // inverse-CDF Poisson(1): y = least k with U < P(Y ≤ k)
    val cdf = (0 to 7).scanLeft(0.0) { case (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).product.toDouble
    }.tail // P(Y ≤ 0), ..., P(Y ≤ 7)
    val y = cdf.zipWithIndex.foldRight(lit(8): org.apache.spark.sql.Column) {
      case ((p, k), rest) => when(u("y") < p, k.toLong).otherwise(rest)
    }
    base.select(
      col("timestamp"),
      u("x").as("x"),
      y.as("y"),
      (sqrt(lit(-2.0) * log(greatest(u("z1"), lit(1e-12)))) *
        cos(lit(2.0 * math.Pi) * u("z2"))).as("z"))
  }

  /** filenames/from_textfile tail mode (sources.py:116-209): watch a
    * directory, each new file's lines become events.
    */
  def textDir(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger).text(dir)

  /** from_tcp (sources.py:212): line-delimited socket. */
  def socket(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** from_http_server (sources.py:273-329): embedded HTTP listener; each
    * request body is one event, acked 200 once buffered. Driver-side
    * ingestion edge — see [[graft.sources.PushSource]] for the contract.
    */
  def httpServer(spark: SparkSession, port: Int, host: String = "0.0.0.0",
                 path: String = "/"): DataFrame =
    spark.readStream.format(classOf[graft.sources.HttpSourceProvider].getName)
      .option("port", port).option("host", host).option("path", path).load()

  /** from_process (sources.py:332-388): stream an external process's stdout
    * line-by-line; `withStderr` merges stderr in (reference with_stderr).
    */
  def process(spark: SparkSession, cmd: String, withStderr: Boolean = false): DataFrame =
    spark.readStream.format(classOf[graft.sources.ProcessSourceProvider].getName)
      .option("cmd", cmd).option("withStderr", withStderr).load()

  /** from_websocket (sources.py:798-838): LISTEN on host:port; every
    * message a connected client pushes becomes one event (the reference is
    * the server side too — `websockets.serve`).
    */
  def webSocket(spark: SparkSession, port: Int, host: String = "0.0.0.0"): DataFrame =
    spark.readStream.format(classOf[graft.sources.WebSocketSourceProvider].getName)
      .option("port", port).option("host", host).load()

  /** from_mqtt (sources.py:879-932): subscribe to `topic` on a broker;
    * each message's payload becomes one event.
    */
  def mqttSource(spark: SparkSession, host: String, port: Int, topic: String,
                 user: Option[String] = None, pw: Option[String] = None): DataFrame = {
    val r = spark.readStream.format(classOf[graft.sources.MqttSourceProvider].getName)
      .option("host", host).option("port", port).option("topic", topic)
    val r2 = user.fold(r)(u => r.option("user", u))
    pw.fold(r2)(p => r2.option("password", p)).load()
  }

  /** from_kafka / from_kafka_batched (sources.py:391-716). `value` is the
    * raw binary payload; cast/parse downstream. maxOffsetsPerTrigger is the
    * analogue of the reference's max_batch_size.
    *
    * Verification is env-gated exactly like the reference's Kafka suite
    * (tests/test_kafka.py:21, STREAMZ_LAUNCH_KAFKA): KafkaSpec runs a
    * produce→consume round trip only when `GRAFT_LAUNCH_KAFKA` points at a
    * reachable broker; without one the spec is canceled, not skipped
    * silently.
    */
  def kafka(spark: SparkSession, bootstrap: String, topics: String,
            maxOffsetsPerTrigger: Option[Long] = None,
            startingOffsets: String = "latest"): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
    maxOffsetsPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n)).load()
  }
}

/** Sink surface (SURVEY §2.3). */
object Sinks {

  /** sink_to_textfile (sinks.py:76): exactly-once text/parquet/... file sink. */
  def files(df: DataFrame, format: String, path: String,
            checkpoint: String): StreamingQuery =
    df.writeStream.format(format)
      .option("path", path).option("checkpointLocation", checkpoint).start()

  /** to_kafka (sinks.py:115): needs `key`/`value` columns. */
  def kafka(df: DataFrame, bootstrap: String, topic: String,
            checkpoint: String): StreamingQuery =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint).start()

  /** One confirmed-delivery acknowledgement (reference to_kafka pushes
    * "responses from Kafka ... downstream", sinks.py:115-195). Spark's
    * unit of delivery is the micro-batch — the kafka sink commits a batch
    * transactionally per epoch — so the ack granularity is one row per
    * delivered batch; `records` is the count confirmed in it. For
    * per-RECORD confirmed values the Kafka-native stream is a read-back
    * `Sources.kafka` on the written topic (at-least-once, exactly the
    * reference's emit-after-callback contract). */
  final case class ProduceAck(batchId: Long, topic: String, records: Long,
                              wallClockMs: Long)

  /** Handle on a confirmed sink: the query plus the delivery acks
    * accumulated so far (same handle shape as River.TrainHandle). */
  final class ConfirmedSink(val query: StreamingQuery,
      ref: java.util.concurrent.atomic.AtomicReference[Vector[ProduceAck]]) {
    def acks: Vector[ProduceAck] = ref.get()
  }

  /** Generic confirmation machinery behind [[kafkaConfirmed]], factored
    * so the emit-on-success / suppress-on-failure contract is testable
    * without a broker: `writeBatch` delivers one micro-batch (throwing on
    * failure); an ack row is appended ONLY after it returns — a failed
    * batch emits nothing, and Spark's retry of the epoch re-runs the
    * write (at-least-once, as the reference's produce-retry loop). */
  def confirmed(df: DataFrame, topic: String, checkpoint: Option[String] = None)(
      writeBatch: (DataFrame, Long) => Unit): ConfirmedSink = {
    val ref = new java.util.concurrent.atomic.AtomicReference[Vector[ProduceAck]](Vector.empty)
    val writer = df.writeStream
    val q = checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val n = batch.persist().count() // one materialization for write + count
        try {
          writeBatch(batch, id)
          ref.updateAndGet(_ :+ ProduceAck(id, topic, n, System.currentTimeMillis()))
          ()
        } finally batch.unpersist()
      }.start()
    new ConfirmedSink(q, ref)
  }

  /** [[kafka]] with delivery confirmations pushed to the handle: each
    * micro-batch that Kafka accepts appends one [[ProduceAck]]. With a
    * `checkpoint`, a restarted sink resumes at the committed offsets —
    * epochs whose write failed mid-flight re-run (at-least-once), epochs
    * that completed are never re-produced (KafkaSpec pins both against a
    * file-backed topic through this same seam). */
  def kafkaConfirmed(df: DataFrame, bootstrap: String, topic: String,
                     checkpoint: Option[String] = None): ConfirmedSink =
    confirmed(df, topic, checkpoint) { (batch, _) =>
      batch.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    }

  /** Generic per-batch reentry point (collection.py map_partitions analogue:
    * arbitrary relational work per micro-batch).
    */
  def foreachBatch[T](ds: Dataset[T])(f: (Dataset[T], Long) => Unit): StreamingQuery =
    ds.writeStream.foreachBatch((d: Dataset[T], id: Long) => f(d, id)).start()

  /** to_websocket (sinks.py:198-232): each element becomes one text
    * message. The reference keeps ONE connection open from its single
    * process; executor-side the equivalent is one connection per partition
    * per epoch (open/close hooks), which is also the scale path — N
    * executors push in parallel. QoS caveats as [[GraftStream.sink]]:
    * unordered across partitions, at-least-once on task retry.
    */
  def websocket(ds: Dataset[String], host: String, port: Int,
                path: String = "/"): StreamingQuery =
    ds.writeStream.foreach(new org.apache.spark.sql.ForeachWriter[String] {
      @transient private var client: graft.sources.net.WebSocket.Client = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        client = new graft.sources.net.WebSocket.Client(host, port, path); true
      }
      override def process(value: String): Unit = client.send(value)
      override def close(errorOrNull: Throwable): Unit =
        if (client != null) client.close()
    }).start()

  /** to_mqtt (sinks.py:235-273): QoS-0 publish of each element to `topic`.
    * Same per-partition connection + delivery caveats as [[websocket]]
    * (the reference's own TODO concedes it does not await delivery either).
    */
  def mqtt(ds: Dataset[String], host: String, port: Int, topic: String,
           user: Option[String] = None, pw: Option[String] = None): StreamingQuery =
    ds.writeStream.foreach(new org.apache.spark.sql.ForeachWriter[String] {
      @transient private var client: graft.sources.net.Mqtt.Client = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        client = new graft.sources.net.Mqtt.Client(host, port,
          clientId = s"graft-sink-$partitionId-$epochId", user = user, pw = pw)
        true
      }
      override def process(value: String): Unit = client.publish(topic, value)
      override def close(errorOrNull: Throwable): Unit =
        if (client != null) client.close()
    }).start()
}
