package graft.streaming

import java.util.Properties

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions.{current_timestamp, unix_micros}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.{Catalog, SchemaMapper, TopicMeta}

/** The reference's core pipeline, Spark-first (SURVEY §3.1): subscribe to
  * a typed stream ("topic"), derive + register its relational schema, and
  * append every arriving message to a SQL table.
  *
  * Reference shape [upstream: scripts/record.py + factories.py::msg2sql]:
  * one INSERT transaction per message, schema shredded into child tables.
  * Spark shape: micro-batched `foreachBatch` — each batch is ONE bulk
  * append of a whole DataFrame (columnar until the sink boundary), nested
  * fields flattened only at the JDBC seam. JDBC is exactly-once-ish:
  * Spark retries a failed batch and the table is append-only, so
  * dedup-on-read (or `dropDuplicatesWithinWatermark` upstream, see
  * StreamingSpec) papers over replays — same delivery contract the
  * reference has. Parquet commits each trigger's file to Spark's
  * file-sink manifest, and `readback` reads only what it committed.
  *
  * The parquet sink is graft's ([[ParquetLogWriter]], a `foreachBatch`
  * function), not Spark's `FileStreamSink`. It keeps that sink's
  * directory layout, its `_spark_metadata` manifest and its exactly-once
  * rule: a batch id the manifest already holds is a replay and is not
  * written again, and a batch's files count only once the manifest holds
  * them. What it drops is the cost of `FileStreamSink`'s write job: every
  * task of it carried the whole Hadoop configuration twice (~225 KB),
  * serialized twice on the driver and read once in the task on every
  * trigger's critical path, about a quarter of a 100 ms trigger. Here the
  * configuration is broadcast once per recording.
  *
  * Logs: every trigger publishes three exactly-once logs, the query's
  * offsets and commits and (parquet) the sink's `_spark_metadata`
  * manifest. Both recorders start their query with
  * [[NioCheckpointFileManager]] as Spark's checkpoint file manager, so on
  * a local path each log file is a java.nio temp file published by
  * link(2), with no forked process (Spark's default forks `readlink`
  * 8 times and `chmod` twice per log write when Hadoop has no native
  * library). Other schemes keep Spark's default manager. The session's
  * `spark.sql.streaming.checkpointFileManagerClass` is set only while
  * `start()` runs and is unset again; a value the caller set is used
  * and kept.
  *
  * One log per checkpoint: a version directory's manifest belongs to
  * the checkpoint that wrote it, since the sink treats every batch id
  * the manifest holds as a replay. So `recordParquet` checks once,
  * before its query starts, and refuses (naming the directory and the
  * checkpoint):
  *  - a new checkpoint (no `offsets` entry) whose version directory's
  *    manifest already holds a batch: its first triggers would be
  *    skipped. The catalog gives an unchanged schema the same version,
  *    so recording a topic again needs its old checkpoint or another
  *    base directory;
  *  - a used checkpoint whose version directory has no
  *    `_spark_metadata`;
  *  - either kind, when the directory holds part files but no
  *    `_spark_metadata` (e.g. after [[graft.io.Writers.compact]]): a new
  *    manifest would hide every earlier row from `readback`.
  *
  * Replaying a recording costs a listing job. Spark's file source
  * (`spark.readStream.parquet(dir)`) resolves the files the manifest
  * names as explicit paths, and past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 files)
  * `InMemoryFileIndex` lists them with a Spark job of one task per part
  * file: a 15 s recording at 100 ms triggers writes ~150 files, and the
  * event log of one such replay (`perfbench` `ros_record`, seed 4,
  * 4-core box) showed 150 tasks taking 1.18 s.
  * The threshold cannot be raised for the replay query alone, as
  * `start` sets the file-manager key: the query builds its
  * `FileStreamSource` from the reader's `StreamingRelation.dataSource`,
  * which holds the caller's session, not the query's clone, and the
  * listing reads the threshold from that session.
  *
  * Receipt by reference: each micro-batch replaces `current_timestamp()`
  * with its own `batchTimestampMs`, and a literal's generated code holds
  * its value in the Java source. With the receipt as a plain literal,
  * every trigger produced new source text, missed Spark's codegen cache
  * and compiled about two classes with janino on the trigger's critical
  * path. [[withReceipt]] hands the value to the generated class by
  * reference ([[ByReference]]), so a recording compiles its write plan
  * once and every later trigger reuses it.
  * Spark keys compiled classes by the class loader of the query's
  * session, so each recording (and each restart) still compiles once.
  *
  * Scale: the JDBC sink is the bottleneck by construction (same as the
  * reference); `numPartitions` controls sink-side write parallelism, and
  * the parquet path is the 100 TB-rated alternative. The parquet sink
  * writes one file per trigger from ONE writer task, which bounds a
  * single recording to one task's throughput: RecorderSpec's sustained
  * ingest (8-partition rate source, 1 s triggers, local[4]), run alone
  * in a fresh JVM, measured a median 250k events/s over 4 runs
  * (247k–267k) with [[ParquetLogWriter]], against 249k (213k–290k)
  * with Spark's `FileStreamSink`, interleaved on one 4-core box: at 1 s
  * triggers the per-trigger job cost is a small share of each trigger;
  * it is the 100 ms triggers of a live recording that it shortens.
  * (An earlier interleaved pair of medians put one writer per input
  * partition at 230k against 207k for the one writer.)
  */
object Recorder {

  /** Ingest-time receipt metadata, the reference's wall-clock column
    * analog — added per batch, not per row-insert. In a stream the value
    * is the batch's `batchTimestampMs` × 1000 from the offsets log, so a
    * replayed batch writes the same value; in a batch DataFrame it is the
    * query's current time. The value reaches the generated code through
    * [[ByReference]], so every trigger of a recording runs one compiled
    * class (see the [[Recorder]] doc). */
  def withReceipt(df: DataFrame): DataFrame =
    df.withColumn("_recv_us", GraftBridge.column(ByReference(
      GraftBridge.expression(unix_micros(current_timestamp())))))

  /** Record a typed stream into a JDBC table (+ catalog row). */
  def recordJdbc[T: Encoder](
      stream: Dataset[T],
      topic: String,
      msgType: String,
      catalog: Catalog,
      url: String,
      checkpointDir: String,
      props: Properties = new Properties()): (TopicMeta, StreamingQuery) = {
    val meta = catalog.register(topic, msgType, stream.schema)
    val w = stream.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SchemaMapper.flatten(withReceipt(batch))
          .write.mode(SaveMode.Append).jdbc(url, meta.table, props)
      }
    (meta, start(stream.sparkSession, w))
  }

  /** Record a typed stream into parquet, one file per trigger — the
    * scale path. `trigger` defaults to AvailableNow (drain-and-stop, the
    * batch backfill shape); pass ProcessingTime for a LIVE sustained
    * ingest (RecorderSpec's e2e test lands ~1M events through this seam;
    * single-writer capacity in the [[Recorder]] doc). */
  def recordParquet[T: Encoder](
      stream: Dataset[T],
      topic: String,
      msgType: String,
      catalog: Catalog,
      baseDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): (TopicMeta, StreamingQuery) = {
    val meta = catalog.register(topic, msgType, stream.schema)
    // receipt metadata on BOTH sinks (it was JDBC-only, leaving the
    // documented 100 TB path with no ingest-time column); readback's
    // .as[T] binds by name, so the extra _recv_us column is transparent
    // to typed consumers and available to audits.
    //
    // VERSION-SCOPED sink dir (v1, v2, …): each schema version gets
    // its own sink dir + manifest, and the dir must be this
    // checkpoint's log (the rule in the Recorder doc)
    //
    // ONE writer per trigger: without the coalesce the sink writes one
    // part file per input partition per trigger — a small-file tail that
    // every later scan and replay pays for in file opens and listing.
    // The manifest still commits each trigger's file exactly once.
    val dir = s"$baseDir/${meta.table}/v${meta.version}"
    requireOwnLog(stream.sparkSession, dir, checkpointDir)
    val sink = new ParquetLogWriter(stream.sparkSession, dir)
    val w = withReceipt(stream.toDF()).coalesce(1).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(sink)
    (meta, start(stream.sparkSession, w))
  }

  /** Refuses a parquet recording whose version directory `dir` is not
    * the log of `checkpointDir` (the rule in the [[Recorder]] doc),
    * before anything is written. */
  private def requireOwnLog(spark: SparkSession, dir: String,
                            checkpointDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def names(p: Path): Seq[String] =
      try p.getFileSystem(conf).listStatus(p).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    // log entries are named by batch id (`7`, `9.compact`); temp and
    // checksum files are hidden
    def batches(p: Path) =
      names(p).filter(n => n.headOption.exists(_.isDigit))
    val used = batches(new Path(checkpointDir, "offsets")).nonEmpty
    val log = new Path(dir, FileStreamSink.metadataDir)
    val hasLog = log.getFileSystem(conf).exists(log)
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"cannot record into $dir with checkpoint $checkpointDir: $why")
    if (!hasLog && names(new Path(dir)).exists(_.startsWith("part-")))
      refuse(s"it holds part files but no ${FileStreamSink.metadataDir} " +
        "manifest (compacted, or written by another tool), so readback " +
        "would see only the rows this recording adds")
    if (used && !hasLog)
      refuse(s"the checkpoint has run, but $dir has no " +
        s"${FileStreamSink.metadataDir} manifest to resume")
    if (!used && batches(log).nonEmpty)
      refuse("the checkpoint is new, but the directory's manifest holds " +
        "another recording's batches: this one's first batches would be " +
        "skipped as replays. Resume with the checkpoint that wrote it, " +
        "or record into another base directory")
  }

  /** Spark's key for the class that writes a query's offsets, commits
    * and sink logs (`SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS`). */
  private val FileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start `w` with its logs published by [[NioCheckpointFileManager]],
    * leaving `spark`'s conf as it was. A query clones its session's conf
    * in `start()`, and its offsets and commits logs and the parquet sink's
    * manifest (built by [[ParquetLogWriter]] from the batch's session,
    * that clone) take their manager from it, so the key need only be set
    * while `start()` runs. The lock keeps two recordings from unsetting
    * the key under each other. */
  private def start[T](spark: SparkSession, w: DataStreamWriter[T]): StreamingQuery =
    synchronized {
      if (spark.conf.getOption(FileManagerKey).isDefined) w.start()
      else {
        spark.conf.set(FileManagerKey, classOf[NioCheckpointFileManager].getName)
        try w.start() finally spark.conf.unset(FileManagerKey)
      }
    }

  /** Readback: table rows → typed objects (the reference's sql2msg,
    * without the N+1 child-table fetches — nesting is native). Fails on
    * schema drift via the catalog fingerprint.
    *
    * Each recorded version directory v1…vN is read by its EXACT path, so
    * Spark resolves its files through that directory's `_spark_metadata`
    * manifest: only committed files are read, and a part file a crashed
    * attempt left behind is not. (A glob or multi-path read skips the
    * manifest and lists whatever the directory holds.) The versions are
    * then unioned by name.
    *
    * Reads with the VERIFIED version's DDL pinned as the scan schema —
    * not parquet footer sampling: v1-era files lack columns an additive
    * v1→v2 evolution added, and a sampled footer would drop (or fail
    * analysis on) them. With the catalog schema pinned, v1-era rows
    * surface the added nullable columns as NULL — the documented
    * evolution contract. */
  def readback[T: Encoder](
      spark: SparkSession,
      topic: String,
      catalog: Catalog,
      baseDir: String): Dataset[T] = {
    val enc = implicitly[Encoder[T]]
    val meta = catalog.verified(topic, enc.schema)
    val schema = StructType.fromDDL(meta.schemaDdl)
    val fs = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the chain numbers versions 1..N; a version registered but never
    // recorded has no directory
    val dirs = (1 to meta.version).map(v => s"$baseDir/${meta.table}/v$v")
      .filter(d => fs.exists(new Path(d)))
    require(dirs.nonEmpty,
      s"topic $topic has no recorded data under $baseDir/${meta.table}")
    dirs.map(spark.read.schema(schema).parquet(_))
      .reduce(_ unionByName _).as[T](enc)
  }

  /** Typed readback from a FLAT JDBC table (the true sql2msg analog:
    * the reference reconstructs messages from its shredded SQL layout).
    * Unflattens reference-style `parent_child` columns back into the
    * message's nested shape in one projection. */
  def readbackJdbc[T: Encoder](
      spark: SparkSession,
      topic: String,
      catalog: Catalog,
      url: String,
      props: Properties = new Properties()): Dataset[T] = {
    val enc = implicitly[Encoder[T]]
    val meta = catalog.verified(topic, enc.schema)
    SchemaMapper
      .unflatten(spark.read.jdbc(url, meta.table, props), enc.schema)
      .as[T](enc)
  }
}
