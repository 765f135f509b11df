package graft.functions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan,
  Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The one parquet writer of a TableLog table's staged files: Spark's
  * own [[ParquetFileFormat]] write path (codegen'd `ParquetWriteSupport`,
  * session compression) prepared on the session's hadoop conf plus the
  * table's write options ([[TableLog.bloomWriteOptions]]), the conf a
  * `df.write.options(...).parquet` job gets. Serializable: the DSv2
  * task writers ([[graft.sources.TableLogV2]]) open their files through
  * it on the executors, and [[TableLog]]'s driver-local appends
  * ([[writeLocal]]) on the driver. */
private[graft] final class StagedParquet private (
    factory: OutputWriterFactory, schema: StructType,
    conf: SerializableConfiguration) extends Serializable {

  def hadoopConf: Configuration = conf.value

  /** A new staged file `part-<partitionId>-<taskId>-<uuid>.<ext>` under
    * `dir`, opened with the task context a write task would have. */
  def open(dir: String, partitionId: Int, taskId: Long): OutputWriter = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft", 0),
        TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt))
    factory.newInstance(s"$dir/part-$partitionId-$taskId-" +
      s"${java.util.UUID.randomUUID()}${factory.getFileExtension(ctx)}", schema, ctx)
  }
}

private[graft] object StagedParquet {

  def apply(spark: SparkSession, schema: StructType,
      options: Map[String, String]): StagedParquet = {
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val f = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    new StagedParquet(f, schema, new SerializableConfiguration(job.getConfiguration))
  }

  /** `df`'s rows when it is a driver-local batch: its analyzed plan is
    * only projections and aliases over a [[LocalRelation]], and the
    * optimizer folds it into one. The analyzed plan is checked first
    * (the Dataset already holds it), so any other batch pays no extra
    * optimizer pass; a projection the optimizer does not fold (an
    * uncorrelated scalar subquery, say) is not local. The optimizer
    * folds `rand()` and other nondeterministic projections by
    * evaluating them as partition 0, on the job path too. */
  private def local(df: DataFrame): Option[LocalRelation] = {
    def overLocal(p: LogicalPlan): Boolean = p match {
      case r: LocalRelation => !r.isStreaming
      case Project(_, child) => overLocal(child)
      case SubqueryAlias(_, child) => overLocal(child)
      case _ => false
    }
    if (!overLocal(df.queryExecution.analyzed)) None
    else df.queryExecution.optimizedPlan match {
      case r: LocalRelation => Some(r)
      case _ => None
    }
  }

  /** Write a driver-local `df` (see [[local]]) under `dir` on the
    * driver, with no Spark job, in the files a `df.write.parquet` job
    * gives it: the rows in `LocalTableScanExec`'s slices —
    * `min(max(rows, 1), leafNodeDefaultParallelism)` contiguous ranges
    * — one file per slice, split every
    * `spark.sql.files.maxRecordsPerFile` rows; an empty batch is one
    * 0-row file. False (nothing written) when `df` is not local. */
  def writeLocal(df: DataFrame, dir: String,
      options: Map[String, String]): Boolean = local(df).exists { r =>
    val spark = df.sparkSession
    val rows = r.data.toIndexedSeq
    val n = rows.length
    val slices = math.min(math.max(n, 1), graftbridge.leafNodeDefaultParallelism(spark))
    val sqlConf = spark.sessionState.conf
    val perFile = sqlConf.maxRecordsPerFile
    val writer = StagedParquet(spark, DataTypeUtils.fromAttributes(r.output), options)
    def writeSlice(s: Int): Unit = {
      var i = (s.toLong * n / slices).toInt
      val until = ((s + 1L) * n / slices).toInt
      var file = 0
      do {
        val end = if (perFile > 0) math.min(until.toLong, i + perFile).toInt else until
        val out = writer.open(dir, s, file)
        try while (i < end) { out.write(rows(i)); i += 1 }
        finally out.close()
        file += 1
      } while (i < until)
    }
    // the slices' files are independent, so they are written at once, as
    // the job's tasks would write them: on the common fork-join pool and
    // this thread, each under this session's conf (the parquet writer
    // reads its rebase modes and time zone from SQLConf.get); a failed slice's error
    // is rethrown here
    java.util.stream.IntStream.range(0, slices).parallel()
      .forEach(s => SQLConf.withExistingConf(sqlConf)(writeSlice(s)))
    true
  }
}
