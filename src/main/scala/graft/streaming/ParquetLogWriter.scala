package graft.streaming

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog, SinkFileStatus}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The parquet recorder's sink: a `foreachBatch` function that writes
  * each micro-batch as parquet part files under `dir` and commits them to
  * Spark's own file-sink manifest, `<dir>/_spark_metadata`. The layout
  * and the manifest are those of Spark's `FileStreamSink`, so Spark's
  * file source and a directory read resolve the files through the
  * manifest, and a directory either sink wrote resumes under the other.
  *
  * Exactly once, by `FileStreamSink`'s rule: a batch whose id the
  * manifest already holds (a batch replayed after a crash between the
  * manifest commit and the query's commits log) is skipped; otherwise
  * one job writes the batch, each non-empty partition into
  * `part-<p>-<uuid>-c000<ext>`, and the files' statuses are added to the
  * manifest as that batch id. A task that throws deletes its file; a
  * failed job or commit deletes the files of its tasks; a batch id
  * another writer already committed throws. The manifest's latest batch
  * id is read once, on the first batch, and then kept in memory: the log
  * finds it by listing `_spark_metadata`, which holds one file per batch
  * for the log's cleanup delay (10 min, thousands of files at 10
  * triggers/s), so asking it on every trigger would cost a listing each.
  * The log still lists the directory itself: once, to learn its compact
  * interval, and, to delete expired files, on every add from batch
  * `spark.sql.streaming.minBatchesToRetain` + compact interval − 1 on
  * (109 by default).
  *
  * Unlike `FileStreamSink`'s write job, whose every task carries the
  * whole Hadoop configuration twice (see [[Recorder]]), the job's
  * configuration is broadcast once per recording and each task carries
  * its handle ([[WritePartition]]).
  *
  * Built on the first batch, from that batch's session (the query's own
  * clone, so the manifest is published by the file manager the query
  * started with, see [[Recorder]]). Not thread-safe: a query calls its
  * `foreachBatch` function from one thread. */
private[graft] final class ParquetLogWriter(spark: SparkSession, dir: String)
    extends ((DataFrame, Long) => Unit) {

  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private val root = {
    val p = new Path(dir)
    p.getFileSystem(hadoopConf).makeQualified(p)
  }
  // the manifest directory exists from the start, as `FileStreamSink`'s
  // does: a recording that has committed nothing reads back empty
  root.getFileSystem(hadoopConf).mkdirs(new Path(root, FileStreamSink.metadataDir))

  private var log: FileStreamSinkLog = _
  private var write: WritePartition = _
  private var latest = -1L

  /** The function each write task runs; set by the first batch. */
  private[graft] def task: WritePartition = write

  def apply(batch: DataFrame, batchId: Long): Unit = {
    if (log == null) prepare(batch)
    if (batchId > latest) {
      val rows = batch.queryExecution.toRdd
      val written = new Array[Option[SinkFileStatus]](rows.getNumPartitions)
      try {
        rows.sparkContext.runJob(rows, write, rows.partitions.indices,
          (p: Int, s: Option[SinkFileStatus]) => written(p) = s)
        if (!log.add(batchId, written.flatten))
          throw new IllegalStateException(
            s"batch $batchId of $root was committed by another writer")
        latest = batchId
      } catch {
        case t: Throwable =>
          for (s <- written if s != null; f <- s) {
            val p = new Path(f.path)
            p.getFileSystem(hadoopConf).delete(p, false)
          }
          throw t
      }
    }
  }

  private def prepare(batch: DataFrame): Unit = {
    val session = batch.sparkSession
    val conf = session.sessionState.newHadoopConf()
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat()
      .prepareWrite(session, job, Map.empty, batch.schema)
    write = WritePartition(root.toString, batch.schema, factory,
      session.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)))
    log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, session,
      FileStreamSink.getMetadataLogPath(root.getFileSystem(conf), root,
        session.sessionState.conf).toString)
    latest = log.getLatestBatchId().getOrElse(-1L)
  }
}

/** One write task: writes its partition's rows, if any, to a new part
  * file under `dir` and returns the file's manifest entry. It carries the
  * job's Hadoop configuration as a broadcast handle, not as a value, so
  * serializing it costs a few KB, not the whole configuration. */
private[graft] final case class WritePartition(
    dir: String,
    schema: StructType,
    factory: OutputWriterFactory,
    conf: Broadcast[SerializableConfiguration])
    extends ((TaskContext, Iterator[InternalRow]) => Option[SinkFileStatus]) {

  def apply(task: TaskContext, rows: Iterator[InternalRow]): Option[SinkFileStatus] =
    if (!rows.hasNext) None
    else {
      // the context copies the configuration: the broadcast value is
      // shared by every task of the executor and is never changed
      val ctx = new TaskAttemptContextImpl(conf.value.value, new TaskAttemptID(
        "graft", task.stageId(), TaskType.MAP, task.partitionId(), task.attemptNumber()))
      val file = new Path(dir, f"part-${task.partitionId()}%05d-${UUID.randomUUID()}" +
        s"-c000${factory.getFileExtension(ctx)}")
      val fs = file.getFileSystem(ctx.getConfiguration)
      val writer = factory.newInstance(file.toString, schema, ctx)
      var open = true
      try {
        rows.foreach(writer.write)
        open = false
        writer.close()
        Some(SinkFileStatus(fs.getFileStatus(file)))
      } catch {
        case t: Throwable =>
          if (open) try writer.close() catch { case s: Throwable => t.addSuppressed(s) }
          fs.delete(file, false)
          throw t
      }
    }
}
