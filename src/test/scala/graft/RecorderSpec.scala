package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Properties
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, PathFilter, Path => HPath}
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{Encoders, SaveMode}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.util.SerializableConfiguration

import graft.model.{Catalog, SchemaMapper}
import graft.streaming.{ParquetLogWriter, Recorder}

/** Top-level message fixtures (encoder derivation). */
case class Stamp(secs: Long, nanos: Long)
case class Pose(x: Double, y: Double, z: Double, stamp: Stamp)
case class PoseV2(x: Double, y: Double)
case class PoseEvolved(x: Double, y: Double, z: Double, stamp: Stamp,
                       frame: Option[String])
case class LiveEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Spark's file-system log manager, counting how often a query's logs
  * list a `_spark_metadata` directory. */
class ManifestListCounter(path: HPath, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  override def list(p: HPath, filter: PathFilter): Array[FileStatus] = {
    if (p.getName == FileStreamSink.metadataDir) ManifestListCounter.lists.incrementAndGet()
    super.list(p, filter)
  }
}
object ManifestListCounter { val lists = new AtomicInteger }

/** End-to-end ros_sql-equivalent pipeline (SURVEY §2.9/§3.1 ⊘): typed
  * stream → schema registration → micro-batched sink → catalog-verified
  * typed readback. JDBC leg runs against embedded Derby (in Spark's
  * classpath), standing in for the reference's SQLite/Postgres. */
class RecorderSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: Path): List[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally ls.close()
  }

  test("record to parquet + catalog, then typed readback (sql2msg analog)") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("rec")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose]
    val msgs = Seq(
      Pose(1.0, 2.0, 3.0, Stamp(1700000000L, 123456789L)),
      Pose(4.0, 5.0, 6.0, Stamp(1700000001L, 999999999L)))
    in.addData(msgs)
    val (meta, q) = Recorder.recordParquet(
      in.toDS(), "/robot1/pose", "geometry_msgs/Pose", cat,
      base, s"$base/_ckpt")
    q.awaitTermination()
    assert(meta.table == "robot1_pose")
    assert(cat.lookup("/robot1/pose").get.fingerprint ==
      SchemaMapper.fingerprint(in.toDS().schema))
    val back = Recorder.readback[Pose](spark, "/robot1/pose", cat, base)
      .collect().toSet
    assert(back == msgs.toSet) // lossless roundtrip incl. ns stamp
  }

  test("additive evolution: v1-era rows read back under v2 with nulls") {
    // the documented evolution contract at the READ path (ADVICE r5):
    // after v1->v2 the topic dir mixes v1/v2 parquet files, and a
    // footer-sampled read can nondeterministically miss (or fail on)
    // the added column — readback must pin the catalog schema instead
    implicit val ctx = spark.sqlContext
    val base = tmpDir("evolve")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in1 = MemoryStream[Pose]
    in1.addData(Pose(1.0, 2.0, 3.0, Stamp(1700000000L, 1L)))
    val (_, q1) = Recorder.recordParquet(
      in1.toDS(), "/robot1/pose", "geometry_msgs/Pose", cat,
      base, s"$base/_ckpt1")
    q1.awaitTermination()
    val in2 = MemoryStream[PoseEvolved]
    in2.addData(PoseEvolved(4.0, 5.0, 6.0, Stamp(1700000001L, 2L),
                            Some("map")))
    val (meta2, q2) = Recorder.recordParquet(
      in2.toDS(), "/robot1/pose", "geometry_msgs/Pose", cat,
      base, s"$base/_ckpt2")
    q2.awaitTermination()
    assert(meta2.version == 2)
    val back = Recorder
      .readback[PoseEvolved](spark, "/robot1/pose", cat, base)
      .collect().toSet
    assert(back == Set(
      PoseEvolved(1.0, 2.0, 3.0, Stamp(1700000000L, 1L), None),
      PoseEvolved(4.0, 5.0, 6.0, Stamp(1700000001L, 2L), Some("map"))),
      s"v1 rows must surface the v2 column as null: $back")
  }

  test("readback reads committed files only: a crash leftover is ignored") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("leftover")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose]
    val msgs = (1 to 6).map(i => Pose(i, i, i, Stamp(1700000000L + i, i)))
    val (meta, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))
    try {
      in.addData(msgs.take(3)); q.processAllAvailable()
      in.addData(msgs.drop(3)); q.processAllAvailable()
    } finally q.stop()
    // a part file a crashed attempt wrote into v1/ but never committed
    // to v1/_spark_metadata
    val stray = s"$base/stray"
    Recorder.withReceipt(Seq(Pose(-1, -1, -1, Stamp(0L, 0L)),
        Pose(-2, -2, -2, Stamp(0L, 0L))).toDF())
      .coalesce(1).write.parquet(stray)
    Files.move(parquetFiles(Paths.get(stray)).head,
      Paths.get(base, meta.table, "v1", "part-00000-crashed.c000.snappy.parquet"))
    // a directory listing sees it...
    assert(spark.read.parquet(s"$base/${meta.table}/v*").count() == 8)
    // ...the manifest-resolved readback does not
    val back = Recorder.readback[Pose](spark, "/robot1/pose", cat, base)
      .collect().toSeq
    assert(back.sortBy(_.x) == msgs)
  }

  test("parquet sink writes one part file per trigger") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("files")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose](3)
    val (meta, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))
    val k = 4
    // six messages per trigger: every one of the 3 input partitions
    // holds data, so one file per partition would leave 3k files
    val msgs = (0 until 6 * k).map(i => Pose(i, i, i, Stamp(i.toLong, 0L)))
    try msgs.grouped(6).foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == k)
    val parts = parquetFiles(Paths.get(base, meta.table, "v1")).size
    assert(parts == k, s"$parts part files for $k triggers")
    val back = Recorder.readback[Pose](spark, "/robot1/pose", cat, base)
      .collect().toSeq
    assert(back.sortBy(_.x) == msgs)
  }

  /** Spark's key for a query's log file manager. */
  private val FileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val SparkDefault = classOf[org.apache.spark.sql.execution.streaming
    .checkpointing.FileContextBasedCheckpointFileManager].getName

  /** Runs `body` with the session's log file manager set to `cls`. */
  private def withManager[A](cls: String)(body: => A): A = {
    spark.conf.set(FileManagerKey, cls)
    try body finally spark.conf.unset(FileManagerKey)
  }

  test("recordParquet publishes offsets, commits and the sink manifest " +
       "without Hadoop checksums, and leaves the session conf unset") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("nio-logs")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose]
    assert(spark.conf.getOption(FileManagerKey).isEmpty)
    val (meta, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))
    assert(spark.conf.getOption(FileManagerKey).isEmpty)
    try (1 to 3).foreach { i =>
      in.addData(Pose(i, i, i, Stamp(i.toLong, 0L))); q.processAllAvailable()
    } finally q.stop()
    for (dir <- Seq(s"$base/_ckpt/offsets", s"$base/_ckpt/commits",
                    s"$base/${meta.table}/v1/_spark_metadata")) {
      val names = entries(dir)
      assert(names.count(_.forall(_.isDigit)) >= 3, s"$dir: $names")
      assert(!names.exists(n => n.endsWith(".crc") || n.endsWith(".tmp")),
        s"$dir: $names")
    }
    assert(entries(s"$base/_metadata") == Seq("catalog.json"))
    // the JDBC recorder takes the same path
    val url = s"jdbc:derby:$base/db;create=true"
    val jin = MemoryStream[Pose]
    jin.addData(Pose(1, 1, 1, Stamp(1L, 0L)))
    val (_, jq) = Recorder.recordJdbc(jin.toDS(), "/cam/pose",
      "geometry_msgs/Pose", cat, url, s"$base/_jckpt")
    jq.awaitTermination()
    assert(spark.conf.getOption(FileManagerKey).isEmpty)
    assert(!entries(s"$base/_jckpt/offsets").exists(_.endsWith(".crc")))
    assert(!entries(s"$base/_jckpt/commits").exists(_.endsWith(".crc")))
  }

  test("a log file manager the caller set is used and kept") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("own-manager")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose]
    in.addData(Pose(1, 1, 1, Stamp(1L, 0L)))
    withManager(SparkDefault) {
      val (_, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
        "geometry_msgs/Pose", cat, base, s"$base/_ckpt")
      q.awaitTermination()
      assert(spark.conf.get(FileManagerKey) == SparkDefault)
    }
    // Spark's default manager writes a checksum beside each log file
    assert(entries(s"$base/_ckpt/offsets").contains(".0.crc"))
    assert(entries(s"$base/_ckpt/commits").contains(".0.crc"))
  }

  test("a checkpoint moves between Spark's default log manager and the " +
       "recorder's, both ways, with exactly the input read back") {
    implicit val ctx = spark.sqlContext
    val k = 6 // two runs of k triggers pass the sink log's compaction at 10
    def record(base: String, in: MemoryStream[Pose], from: Int): Unit = {
      val cat = new Catalog(spark, s"$base/_metadata")
      val (_, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
        "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
        Trigger.ProcessingTime(0))
      try (from until from + k).foreach { i =>
        in.addData(Pose(i, i, i, Stamp(i.toLong, 0L))); q.processAllAvailable()
      } finally q.stop()
    }
    def readBack(base: String): Seq[Pose] =
      Recorder.readback[Pose](spark, "/robot1/pose",
        new Catalog(spark, s"$base/_metadata"), base).collect().toSeq
    val all = (0 until 2 * k).map(i => Pose(i, i, i, Stamp(i.toLong, 0L)))
    // default first, then the recorder's
    val a = tmpDir("interop-a")
    val inA = MemoryStream[Pose]
    withManager(SparkDefault)(record(a, inA, 0))
    record(a, inA, k)
    assert(readBack(a).sortBy(_.x) == all)
    val logA = entries(s"$a/_ckpt/offsets")
    assert(logA.contains(s".${k - 1}.crc") && !logA.contains(s".$k.crc"), logA)
    // the recorder's first, then the default
    val b = tmpDir("interop-b")
    val inB = MemoryStream[Pose]
    record(b, inB, 0)
    withManager(SparkDefault)(record(b, inB, k))
    assert(readBack(b).sortBy(_.x) == all)
    val logB = entries(s"$b/_ckpt/offsets")
    assert(!logB.contains(s".${k - 1}.crc") && logB.contains(s".$k.crc"), logB)
  }

  /** The files batch `id`'s manifest entry under `dir` commits. */
  private def committed(dir: String, id: Long): Seq[String] =
    "\"path\":\"([^\"]+)\"".r.findAllMatchIn(Files.readString(
      Paths.get(dir, "_spark_metadata", id.toString))).map(_.group(1)).toSeq

  /** Records `batches` as one trigger each into a running `q`, then stops it. */
  private def feed(in: MemoryStream[Pose], q: StreamingQuery,
      batches: Seq[Seq[Pose]]): Unit =
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()

  private def poses(from: Int, until: Int): Seq[Pose] =
    (from until until).map(i => Pose(i, i, i, Stamp(i.toLong, 0L)))

  test("a replayed batch is not written twice: a batch re-run after its " +
       "commit was lost finds its manifest entry and writes nothing") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("replay")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose](3)
    def record(): StreamingQuery = Recorder.recordParquet(in.toDS(),
      "/robot1/pose", "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))._2
    val k = 4
    val msgs = poses(0, 6 * k)
    feed(in, record(), msgs.grouped(6).toSeq)
    // the crash: batch k-1's files are in the manifest, its commit is not
    val last = k - 1
    Files.delete(Paths.get(base, "_ckpt", "commits", last.toString))
    Files.deleteIfExists(Paths.get(base, "_ckpt", "commits", s".$last.crc"))
    val again = record()
    try again.processAllAvailable() finally again.stop()
    assert(again.recentProgress.map(_.batchId).contains(last),
      again.recentProgress.map(_.batchId).toSeq)
    val v1 = s"$base/robot1_pose/v1"
    assert(entries(s"$v1/_spark_metadata") == (0 until k).map(_.toString))
    assert((0 until k).map(committed(v1, _).size) == Seq.fill(k)(1))
    assert(parquetFiles(Paths.get(v1)).size == k)
    val back = Recorder.readback[Pose](spark, "/robot1/pose", cat, base)
      .collect().toSeq
    assert(back.sortBy(_.x) == msgs)
  }

  /** Starts a live recording of `in` under `base` with checkpoint `ckpt`. */
  private def recordLive(in: MemoryStream[Pose], base: String,
      ckpt: String): StreamingQuery =
    Recorder.recordParquet(in.toDS(), "/robot1/pose", "geometry_msgs/Pose",
      new Catalog(spark, s"$base/_metadata"), base, s"$base/$ckpt",
      Trigger.ProcessingTime(0))._2

  test("a new checkpoint is refused a version directory whose manifest " +
       "another recording wrote, instead of skipping its first batches") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("second-session")
    val in = MemoryStream[Pose](3)
    feed(in, recordLive(in, base, "_ckpt1"), poses(0, 4).grouped(2).toSeq)
    // the same topic and schema get the same version directory
    val v1 = s"$base/robot1_pose/v1"
    val e = intercept[IllegalStateException](recordLive(in, base, "_ckpt2"))
    assert(e.getMessage.contains(v1) &&
      e.getMessage.contains(s"$base/_ckpt2"), e.getMessage)
    assert(!Files.exists(Paths.get(base, "_ckpt2", "offsets")))
    // the recording that owns the manifest still resumes
    feed(in, recordLive(in, base, "_ckpt1"), Seq(poses(4, 6)))
    val back = Recorder.readback[Pose](spark, "/robot1/pose",
      new Catalog(spark, s"$base/_metadata"), base).collect().toSeq
    assert(back.sortBy(_.x) == poses(0, 6))
  }

  test("a version directory compacted out of its manifest is refused, " +
       "with its old checkpoint and with a new one") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("compacted")
    val in = MemoryStream[Pose](3)
    feed(in, recordLive(in, base, "_ckpt"), poses(0, 4).grouped(2).toSeq)
    val v1 = s"$base/robot1_pose/v1"
    graft.io.Writers.compact(spark, v1)
    assert(!Files.exists(Paths.get(v1, "_spark_metadata")))
    // a new manifest would resolve only the rows recorded after it
    for (ckpt <- Seq("_ckpt", "_ckpt_new")) {
      val e = intercept[IllegalStateException](recordLive(in, base, ckpt))
      assert(e.getMessage.contains(v1) &&
        e.getMessage.contains(s"$base/$ckpt"), e.getMessage)
    }
    assert(!Files.exists(Paths.get(v1, "_spark_metadata")))
    assert(spark.read.parquet(v1).count() == 4)
  }

  test("a parquet recording lists its manifest once, not on every trigger") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("manifest-lists")
    val in = MemoryStream[Pose](3)
    val k = 25
    ManifestListCounter.lists.set(0)
    withManager(classOf[ManifestListCounter].getName)(
      feed(in, recordLive(in, base, "_ckpt"), poses(0, 2 * k).grouped(2).toSeq))
    // once for the latest batch id, and once by the log itself when it
    // first looks for compacted files to learn its compact interval
    val lists = ManifestListCounter.lists.get
    assert(lists <= 2, s"_spark_metadata listed $lists times over $k triggers")
    val v1 = s"$base/robot1_pose/v1"
    assert(entries(s"$v1/_spark_metadata").count(_.head.isDigit) == k)
    val back = Recorder.readback[Pose](spark, "/robot1/pose",
      new Catalog(spark, s"$base/_metadata"), base).collect().toSeq
    assert(back.sortBy(_.x) == poses(0, 2 * k))
  }

  test("a task that throws mid-write leaves neither a part file nor a " +
       "manifest entry for its batch") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("task-fails")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose](3)
    // the marked message comes last, after the task has opened its file
    val marked = Pose(-1, -1, -1, Stamp(0L, 0L))
    val stream = in.toDS().map { p =>
      if (p.x == -1) throw new IllegalStateException("marked message")
      p
    }
    val (meta, q) = Recorder.recordParquet(stream, "/robot1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))
    val ok = poses(0, 6)
    try {
      in.addData(ok); q.processAllAvailable()
      in.addData(poses(6, 11) :+ marked)
      val err = intercept[StreamingQueryException](q.processAllAvailable())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("marked message")), err)
    } finally q.stop()
    val v1 = s"$base/${meta.table}/v1"
    assert(entries(s"$v1/_spark_metadata") == Seq("0"))
    val files = parquetFiles(Paths.get(v1)).map(_.getFileName.toString)
    assert(files.size == 1 && committed(v1, 0).head.endsWith(files.head), files)
    // nothing else of a part file, its checksum included, is left
    assert(entries(v1).filter(_.contains("part-")).forall(_.contains(files.head)),
      entries(v1))
    val back = Recorder.readback[Pose](spark, "/robot1/pose", cat, base)
      .collect().toSeq
    assert(back.sortBy(_.x) == ok)
  }

  test("a version directory and checkpoint Spark's own file sink wrote " +
       "resume under recordParquet, with exactly the input read back") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("from-file-sink")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose](3)
    val meta = cat.register("/robot1/pose", "geometry_msgs/Pose", in.toDS().schema)
    val v1 = s"$base/${meta.table}/v1"
    val k = 6 // two runs of k triggers pass the manifest's compaction at 10
    val all = poses(0, 2 * k)
    feed(in, Recorder.withReceipt(in.toDS().toDF()).coalesce(1).writeStream
      .option("checkpointLocation", s"$base/_ckpt")
      .option("path", v1)
      .trigger(Trigger.ProcessingTime(0))
      .format("parquet").start(), all.take(k).map(Seq(_)))
    val (resumed, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))
    assert(resumed == meta)
    feed(in, q, all.drop(k).map(Seq(_)))
    assert(q.recentProgress.map(_.batchId).filter(_ >= 0).min == k)
    assert(entries(s"$v1/_spark_metadata").contains("9.compact"))
    assert(parquetFiles(Paths.get(v1)).size == 2 * k)
    val back = Recorder.readback[Pose](spark, "/robot1/pose", cat, base)
      .collect().toSeq
    assert(back.sortBy(_.x) == all)
  }

  test("Spark's file source streams exactly the committed rows of a " +
       "recorded directory, not a stray part file in it") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("file-source")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose](3)
    val (meta, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))
    val msgs = poses(0, 12)
    feed(in, q, msgs.grouped(4).toSeq)
    // a copy of a committed file under a name no manifest entry holds,
    // as an attempt that failed before its commit leaves one
    val v1 = Paths.get(base, meta.table, "v1")
    Files.copy(parquetFiles(v1).head, v1.resolve("part-00000-stray-c000.snappy.parquet"))
    assert(spark.read.parquet(s"$v1/*.parquet").count() > msgs.size)
    val replay = spark.readStream.schema(Encoders.product[Pose].schema)
      .parquet(v1.toString).writeStream.format("memory")
      .queryName("recorded_replay").trigger(Trigger.AvailableNow()).start()
    replay.awaitTermination()
    val back = spark.table("recorded_replay").as[Pose].collect().toSeq
    assert(back.sortBy(_.x) == msgs)
  }

  test("a parquet write task carries the Hadoop configuration as a " +
       "broadcast handle, not by value") {
    val base = tmpDir("task-bytes")
    val writer = new ParquetLogWriter(spark, s"$base/v1")
    val msgs = poses(0, 5)
    writer(Recorder.withReceipt(msgs.toDF()).coalesce(1), 0L)
    def serialized(o: AnyRef): Array[Byte] = {
      val b = SparkEnv.get.closureSerializer.newInstance().serialize(o)
      val a = new Array[Byte](b.remaining)
      b.get(a)
      a
    }
    val task = serialized(writer.task)
    assert(!new String(task, StandardCharsets.ISO_8859_1)
      .contains(classOf[Configuration].getName))
    // a configuration by value (a `SerializableConfiguration` writes its
    // entries, not a class descriptor) is more than ten times the bound
    val bound = 8 * 1024
    assert(task.length < bound, s"${task.length} bytes")
    val conf = serialized(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    assert(conf.length > 10 * bound, s"${conf.length} bytes")
    info(s"write task ${task.length} B; one configuration by value ${conf.length} B")
    assert(committed(s"$base/v1", 0).size == 1)
    assert(spark.read.parquet(s"$base/v1").as[Pose].collect().toSeq.sortBy(_.x) == msgs)
  }

  test("readback fails fast on schema drift (md5-check analog)") {
    val base = tmpDir("drift")
    val cat = new Catalog(spark, s"$base/_metadata")
    cat.register("/robot1/pose", "geometry_msgs/Pose",
      implicitly[org.apache.spark.sql.Encoder[Pose]].schema)
    val err = intercept[IllegalArgumentException] {
      Recorder.readback[PoseV2](spark, "/robot1/pose", cat, base)
    }
    assert(err.getMessage.contains("schema drift"))
  }

  test("record stream to JDBC (Derby) with flattened nested columns") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("jdbc")
    val cat = new Catalog(spark, s"$base/_metadata")
    val url = s"jdbc:derby:$base/db;create=true"
    val in = MemoryStream[Pose]
    in.addData(Pose(1.5, 2.5, 3.5, Stamp(1700000099L, 42L)))
    val (meta, q) = Recorder.recordJdbc(
      in.toDS(), "/cam/pose", "geometry_msgs/Pose", cat,
      url, s"$base/_ckpt", new Properties())
    q.awaitTermination()
    val back = spark.read.jdbc(url, meta.table, new Properties())
    // nested struct arrived as reference-style flat columns
    assert(back.columns.toSet ==
      Set("x", "y", "z", "stamp_secs", "stamp_nanos", "_recv_us"))
    val r = back.collect().head
    assert(r.getAs[Double]("x") == 1.5 &&
      r.getAs[Long]("stamp_nanos") == 42L)
    // full sql2msg analog: typed reconstruction from the FLAT SQL table
    val typed = Recorder.readbackJdbc[Pose](spark, "/cam/pose", cat, url)
      .collect().toSeq
    assert(typed == Seq(Pose(1.5, 2.5, 3.5, Stamp(1700000099L, 42L))))
  }

  test("ingest receipt time is attached (reference wall-clock analog)") {
    val df = Recorder.withReceipt(Seq((1, "a")).toDF("id", "v"))
    val recv = df.collect().head.getAs[Long]("_recv_us")
    assert(recv > 1600000000000000L) // sane epoch-µs
  }

  /** Janino compiles so far in this JVM: Spark times each one into this
    * histogram. */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a parquet recording compiles its write plan once: after the first " +
       "trigger, no trigger compiles") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("compile-once")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose](3)
    val (_, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))
    val k = 7
    // compiles so far, read after each trigger has committed
    val counts = try (0 until k).map { i =>
      in.addData((0 until 6).map(j => Pose(i, j, 0, Stamp(i.toLong, 0L))))
      q.processAllAvailable()
      compiles()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == k)
    assert(counts.forall(_ == counts.head),
      s"compiles after each of $k triggers: $counts")
  }

  test("a JDBC recording compiles its batch write once: four batches " +
       "compile what one batch does") {
    val base = tmpDir("compile-once-jdbc")
    val cat = new Catalog(spark, s"$base/_metadata")
    val url = s"jdbc:derby:$base/db;create=true"
    // records `n` source files as `n` batches (one file per batch) into
    // a table of its own; returns the compiles the recording did. Spark
    // keys its compiled classes by the class loader of the query's own
    // session, so each recording compiles its plan once; the first
    // recording in the JVM also compiles what every query shares.
    def record(topic: String, n: Int): Long = {
      val src = s"$base/src$topic"
      (0 until n).foreach { i =>
        Seq(Pose(i, i, i, Stamp(i.toLong, 0L))).toDS().coalesce(1)
          .write.mode(SaveMode.Append).parquet(src)
      }
      val stream = spark.readStream.schema(Encoders.product[Pose].schema)
        .option("maxFilesPerTrigger", 1).parquet(src).as[Pose]
      val before = compiles()
      val (meta, q) = Recorder.recordJdbc(stream, s"/cam/pose$topic",
        "geometry_msgs/Pose", cat, url, s"$base/_ckpt$topic")
      q.awaitTermination()
      val done = compiles() - before
      assert(q.recentProgress.count(_.numInputRows > 0) == n)
      assert(spark.read.jdbc(url, meta.table, new Properties()).count() == n)
      done
    }
    record("0", 1)
    val one = record("1", 1)
    val four = record("4", 4)
    assert(four == one, s"one batch compiled $one classes, four batches $four")
  }

  test("each trigger's part file holds one receipt: its batch's " +
       "batchTimestampMs x 1000 from the offsets log") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("receipt")
    val cat = new Catalog(spark, s"$base/_metadata")
    val in = MemoryStream[Pose](3)
    val (meta, q) = Recorder.recordParquet(in.toDS(), "/robot1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/_ckpt",
      Trigger.ProcessingTime(0))
    val k = 4
    try (0 until k).foreach { i =>
      in.addData((0 until 6).map(j => Pose(i, j, 0, Stamp(i.toLong, 0L))))
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == k)
    def text(p: String): String = Files.readString(Paths.get(p))
    val TimestampMs = "\"batchTimestampMs\":(\\d+)".r
    val FilePath = "\"path\":\"([^\"]+)\"".r
    val receipts = (0 until k).map { id =>
      val ms = TimestampMs.findFirstMatchIn(text(s"$base/_ckpt/offsets/$id"))
        .get.group(1).toLong
      val files = FilePath.findAllMatchIn(
        text(s"$base/${meta.table}/v1/_spark_metadata/$id")).map(_.group(1)).toSeq
      assert(files.size == 1, s"batch $id: $files")
      val recv = spark.read.parquet(files.head).select("_recv_us")
        .distinct().as[Long].collect().toSeq
      assert(recv == Seq(ms * 1000), s"batch $id at $ms ms: $recv")
      recv.head
    }
    assert(receipts.distinct.size == k, receipts)
    assert(Recorder.withReceipt(Seq(1).toDF("id")).schema("_recv_us") ==
      StructField("_recv_us", LongType, nullable = false))
  }

  test("end-to-end: two topics, one catalog, analytics over the log") {
    implicit val ctx = spark.sqlContext
    val base = tmpDir("e2e")
    val cat = new Catalog(spark, s"$base/_metadata")
    // topic 1: poses
    val poses = MemoryStream[Pose]
    poses.addData(Pose(1, 1, 1, Stamp(1700000000L, 0)))
    val (m1, q1) = Recorder.recordParquet(poses.toDS(), "/r1/pose",
      "geometry_msgs/Pose", cat, base, s"$base/ck1")
    q1.awaitTermination()
    // topic 2: sensor events (ts carries event time)
    val evs = MemoryStream[Ev]
    evs.addData(
      Ev(java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), "a", 1.0),
      Ev(java.sql.Timestamp.valueOf("2024-01-01 10:04:00"), "a", 2.0),
      Ev(java.sql.Timestamp.valueOf("2024-01-01 10:11:00"), "b", 4.0))
    val (m2, q2) = Recorder.recordParquet(evs.toDS(), "/r1/sensor",
      "graft/Ev", cat, base, s"$base/ck2")
    q2.awaitTermination()
    // catalog holds both topics, distinct tables
    assert(cat.all().map(_.topic).toSet == Set("/r1/pose", "/r1/sensor"))
    assert(Set(m1.table, m2.table).size == 2)
    // windowed analytics straight over the recorded log (the "query the
    // logged tables with standard tools" half of the reference contract)
    val agg = graft.streaming.Windowed.tumble(
        spark.read.parquet(s"$base/${m2.table}/v*"),
        org.apache.spark.sql.functions.col("ts"), "10 minutes")
      .orderBy("win_us")
      .collect().map(_.getAs[Long]("n")).toSeq
    assert(agg == Seq(2L, 1L))
  }

  test("e2e live ingest ~1M events: sustained rate source -> compaction " +
      "-> catalog readback -> declared queries on the landed table") {
    val base = tmpDir("e2e")
    val cat = new Catalog(spark, s"$base/_metadata")
    // rate source plays the live topic; the typed map(identity) pins the
    // landed schema to the LiveEvent encoder (so readback's fingerprint
    // check matches) — the subscribe→typed→append loop of the reference
    // at pipeline throughput
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", 300000).option("numPartitions", 8).load()
      .selectExpr(
        "value AS event_id", "timestamp AS ts", "value % 50000 AS user_id",
        "element_at(array('view','click','purchase','signup'), " +
          "CAST(value % 4 AS INT) + 1) AS event_type",
        "CAST(pmod(value * 37, 1000) AS DOUBLE) / 10.0 AS value",
        "concat('{\"k\":', CAST(value % 7 AS STRING), '}') AS props")
      .as[LiveEvent].map(identity)
    val (meta, q) = Recorder.recordParquet(stream, "/live/events",
      "graft/LiveEvent", cat, base, s"$base/ckpt",
      trigger = Trigger.ProcessingTime("1 second"))
    val target = 1000000L
    val deadline = System.nanoTime() + 180L * 1000L * 1000 * 1000
    var landed = 0L
    try {
      while (landed < target && System.nanoTime() < deadline) {
        Thread.sleep(500)
        landed = try spark.read.parquet(s"$base/${meta.table}/v1").count()
                 catch { case _: Exception => 0L }
      }
      assert(landed >= target, s"only $landed events landed in 180s")
      // throughput from the stream's own per-batch metrics: rows
      // processed per second of trigger-execution wall time
      val prog = q.recentProgress
      val rows = prog.map(_.numInputRows).sum
      val ms = prog.map(_.durationMs.get("triggerExecution").toLong).sum
      val eps = if (ms > 0) rows * 1000.0 / ms else 0.0
      info(f"sustained ingest: $rows%d rows / ${ms}%d ms pipeline " +
        f"time = $eps%.0f events/s (landed $landed%d)")
      assert(eps > 100000.0,
        f"ingest pipeline below 100k events/s: $eps%.0f")
    } finally q.stop()
    // compaction collapses the micro-batch file tail in place
    val (before, after) = graft.io.Writers.compact(
      spark, s"$base/${meta.table}/v1", 64L * 1024 * 1024)
    assert(after < before,
      s"compaction did not shrink the file tail ($before -> $after)")
    // catalog-verified typed readback survives ingest + compaction
    val back = Recorder.readback[LiveEvent](spark, "/live/events", cat, base)
    assert(back.head().event_id >= 0L)
    // the landed table serves DECLARED queries: rename it into an
    // sfDir-shaped directory and run three events-family entries
    val sf = s"$base/sfdir"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(sf)))
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(s"$base/${meta.table}/v1"),
      new org.apache.hadoop.fs.Path(s"$sf/events.parquet")))
    for (name <- Seq("q_events_sessionize", "q_events_transitions",
                     "q_events_active_users")) {
      val n = SparkEntry.queries(name)(spark, sf).count()
      assert(n > 0, s"$name returned no rows over the ingested table")
    }
  }
}
