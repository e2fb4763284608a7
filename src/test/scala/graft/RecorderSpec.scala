package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.model.{Catalog, SchemaMapper}
import graft.streaming.Recorder

/** Top-level message fixtures (encoder derivation). */
case class Stamp(secs: Long, nanos: Long)
case class Pose(x: Double, y: Double, z: Double, stamp: Stamp)
case class PoseV2(x: Double, y: Double)
case class PoseEvolved(x: Double, y: Double, z: Double, stamp: Stamp,
                       frame: Option[String])
case class LiveEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

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
