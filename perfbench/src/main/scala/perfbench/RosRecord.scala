package perfbench

import java.nio.file.Path
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.model.Catalog
import graft.streaming.Recorder

/** ROS-shaped messages: std_msgs/Header, then a fixed 3x3 covariance and
  * a variable-length ranges array, as in sensor_msgs. */
final case class Time(secs: Long, nanos: Long)
final case class Header(seq: Long, stamp: Time, frame_id: String)
final case class Scan(header: Header, covariance: Seq[Double], ranges: Seq[Float])
/** The JDBC leg's message: Derby has no array column type and
  * `SchemaMapper.flattenColumns` passes arrays through unflattened, so
  * the JDBC sink can only take an array-free type. */
final case class PoseStamped(header: Header, x: Double, y: Double, z: Double)

/** The ros_sql loop, typed stream -> catalog -> sink -> typed readback:
  *  1. an open-loop generator offers seeded [[Scan]] messages at a fixed
  *     rate, stamped with the time each was due, and `Recorder.recordParquet`
  *     records them on a ProcessingTime trigger;
  *  2. the recorded log is replayed by `Recorder.recordJdbc` into embedded
  *     Derby as [[PoseStamped]] (AvailableNow drain);
  *  3. `Recorder.readback` and `Recorder.readbackJdbc` read both sinks back
  *     as typed objects, checked as exact multisets against the generator.
  */
object RosRecord {
  /** Offered rate, messages/s: low enough that on 4 cores the backlog
    * stays flat (`streaming.backlog_rows_max` stays within a trigger's
    * worth), so lag measures the pipeline and not a growing queue. */
  val Rate = 5000
  val TickMs = 10
  val TriggerMs = 100
  val ScanTopic = "/scan/front"
  val PoseTopic = "/scan/front/pose"

  implicit val scanEnc: Encoder[Scan] = Encoders.product[Scan]
  implicit val poseEnc: Encoder[PoseStamped] = Encoders.product[PoseStamped]

  def covariance(seed: Long): Seq[Double] = {
    val r = new java.util.SplittableRandom(seed)
    Seq.fill(9)(r.nextDouble())
  }

  /** Message `seq` of the stream seeded by `seed`, due at `dueMs`. */
  def message(seed: Long, cov: Seq[Double], seq: Long, dueMs: Long): Scan = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + seq)
    val n = 16 + r.nextInt(48)
    Scan(Header(seq, Time(dueMs / 1000, dueMs % 1000 * 1000000L), s"laser_${r.nextInt(4)}"),
      cov, Seq.fill(n)(r.nextDouble().toFloat * 30f))
  }

  def pose(s: Scan): PoseStamped =
    PoseStamped(s.header, s.ranges.head.toDouble, s.ranges.last.toDouble, s.ranges.size.toDouble)

  /** Adds a tick's worth of messages every `TickMs` whatever the sink
    * does, so a slow sink builds a backlog instead of slowing the input.
    * Keeps every message it offered and when each `addData` was due. */
  final class Generator(stream: MemoryStream[Scan], seed: Long) extends Thread("perfbench-generator") {
    val sent = mutable.ArrayBuffer.empty[Scan]
    /** (due time as `System.nanoTime`, messages offered up to and
      * including this addData) per MemoryStream offset. */
    val adds = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var running = true
    @volatile var maxLateMs = 0.0
    private val cov = covariance(seed)
    setDaemon(true)

    override def run(): Unit = {
      val t0Ns = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      var tick = 0L
      while (running) {
        val dueNs = t0Ns + tick * TickMs * 1000000L
        val waitNs = dueNs - System.nanoTime()
        if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
        maxLateMs = math.max(maxLateMs, (System.nanoTime() - dueNs) / 1e6)
        val dueMs = t0Ms + tick * TickMs
        val upTo = Rate.toLong * (tick + 1) * TickMs / 1000
        val batch = (sent.size.toLong until upTo).map(message(seed, cov, _, dueMs))
        sent ++= batch
        adds.synchronized { adds += ((dueNs, upTo)) }
        stream.addData(batch)
        tick += 1
      }
    }
  }

  /** Progress of every trigger, with the `System.nanoTime` at which the
    * listener saw it: Spark posts it once the batch has committed, and its
    * own timestamps have millisecond resolution only. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(StreamingQueryProgress, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((e.progress, System.nanoTime()))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(id: java.util.UUID): Seq[(StreamingQueryProgress, Long)] =
      events.asScala.toSeq.filter(p => p._1.id == id && p._1.numInputRows > 0)
  }

  /** Everything one pass measured. */
  final case class PassResult(wallS: Double, offered: Long, failed: Long,
      lagMs: Seq[Double], triggers: Seq[StreamingQueryProgress], backlogMax: Long,
      registerS: Double, jdbcS: Double, readbackResolveS: Double, readbackScanS: Double,
      jdbcResolveS: Double, jdbcScanS: Double, filesWritten: Long, lateMs: Double)

  def run(spark: SparkSession, a: Args, startNs: Long, tracer: Tracer): Map[String, Any] = {
    val progress = new Progress
    spark.streams.addListener(progress)
    // Warm-up: a one-second pass through all three phases.
    pass(spark, a, a.out.resolve("warmup"), 1.0, progress, tracer, "warmup")
    val setupS = (System.nanoTime() - startNs) / 1e9

    tracer.drain()
    tracer.counters.reset()
    tracer.enable(a.trace)
    val p = pass(spark, a, a.out.resolve("pass"), a.seconds, progress, tracer, "record")
    tracer.enable(false)

    val ms = (k: String) => p.triggers.map(_.durationMs.get(k).toDouble)
    val e2e = Map(
      "setup_s" -> Report.Metric(setupS, "s", 1),
      "suite_s" -> Report.Metric(p.wallS, "s", 1),
      "op_p50_ms" -> Report.Metric(Report.median(p.lagMs), "ms", p.lagMs.size))
    val rows = p.offered.toDouble
    val nt = p.triggers.size
    val layers = if (!a.trace) Map.empty[String, Report.Metric] else {
      tracer.drain()
      val all = tracer.counters.groups()
      Map(
        // A run commits 40 or so batches: ten or more lie beyond the 75th
        // percentile, too few beyond the 90th.
        "record_lag_p75_ms" -> Report.Metric(Report.pct(p.lagMs, 75), "ms", p.lagMs.size),
        "model.register_s" -> Report.Metric(p.registerS, "s", 2),
        "streaming.trigger_ms" -> Report.Metric(Report.median(ms("triggerExecution")), "ms", nt),
        "streaming.add_batch_ms" -> Report.Metric(Report.median(ms("addBatch")), "ms", nt),
        "streaming.wal_commit_ms" -> Report.Metric(Report.median(ms("walCommit")), "ms", nt),
        "streaming.commit_offsets_ms" -> Report.Metric(Report.median(ms("commitOffsets")), "ms", nt),
        "streaming.query_planning_ms" -> Report.Metric(Report.median(ms("queryPlanning")), "ms", nt),
        "streaming.backlog_rows_max" -> Report.Metric(p.backlogMax.toDouble, "rows", nt),
        "streaming.files_written" -> Report.Metric(p.filesWritten.toDouble, "count", 1),
        "streaming.generator_late_ms" -> Report.Metric(p.lateMs, "ms", 1),
        "record_capacity_eps" -> Report.Metric(
          rows / (ms("triggerExecution").sum / 1e3), "1/s", nt),
        "jdbc_record_eps" -> Report.Metric(rows / p.jdbcS, "1/s", 1),
        "readback.resolve_s" -> Report.Metric(p.readbackResolveS + p.jdbcResolveS, "s", 2),
        "readback.scan_s" -> Report.Metric(p.readbackScanS + p.jdbcScanS, "s", 2),
        "readback_rows_per_s" -> Report.Metric(
          rows / (p.readbackResolveS + p.readbackScanS), "1/s", 1),
        "readback_jdbc_rows_per_s" -> Report.Metric(
          rows / (p.jdbcResolveS + p.jdbcScanS), "1/s", 1),
        "exec.jobs" -> Report.Metric(all.map(_.jobs).sum.toDouble, "count", 1),
        "exec.stages" -> Report.Metric(all.map(_.stages).sum.toDouble, "count", 1),
        "exec.tasks" -> Report.Metric(all.map(_.tasks).sum.toDouble, "count", 1),
        "exec.executor_run_s" -> Report.Metric(all.map(_.runMs).sum / 1e3, "s", 1),
        "exec.executor_cpu_s" -> Report.Metric(all.map(_.cpuNs).sum / 1e9, "s", 1),
        "exec.gc_s" -> Report.Metric(all.map(_.gcMs).sum / 1e3, "s", 1),
        "exec.shuffle_write_bytes" -> Report.Metric(all.map(_.shuffleWrite).sum.toDouble, "B", 1),
        "exec.shuffle_read_bytes" -> Report.Metric(all.map(_.shuffleRead).sum.toDouble, "B", 1),
        "exec.input_bytes" -> Report.Metric(all.map(_.input).sum.toDouble, "B", 1),
        "exec.spill_bytes" -> Report.Metric(all.map(_.spill).sum.toDouble, "B", 1))
    }
    Map("e2e" -> e2e, "layers" -> layers, "attempted" -> 2 * p.offered,
      "failures" -> (if (p.failed == 0) Map.empty else
        Map("ros_record" -> s"${p.failed} messages lost, duplicated or changed")),
      "failed" -> p.failed)
  }

  private def pass(spark: SparkSession, a: Args, dir: Path, seconds: Double,
      progress: Progress, tracer: Tracer, inv: String): PassResult = {
    val base = dir.toString
    val catalog = new Catalog(spark, s"$base/_catalog")
    val url = s"jdbc:derby:$base/derby;create=true"
    val props = new Properties()
    props.setProperty("numPartitions", a.cores.toString)
    val stream = MemoryStream[Scan](a.cores)(scanEnc, spark.sqlContext)
    val gen = new Generator(stream, a.seed)

    val t0 = System.nanoTime()
    // Phase 1: register the topic, record the open-loop stream to parquet.
    val (meta, regScan) = tracer.phase(inv, "register")(
      catalog.register(ScanTopic, "sensor_msgs/LaserScan", scanEnc.schema))
    val (_, q) = Recorder.recordParquet(stream.toDS(), ScanTopic,
      "sensor_msgs/LaserScan", catalog, base, s"$base/_ckpt_scan",
      Trigger.ProcessingTime(TriggerMs))
    gen.start()
    Thread.sleep((seconds * 1000).toLong)
    gen.running = false
    gen.join()
    q.processAllAvailable()
    q.stop()

    // Phase 2: replay the recorded log into Derby.
    val (_, regPose) = tracer.phase(inv, "register")(
      catalog.register(PoseTopic, "geometry_msgs/PoseStamped", poseEnc.schema))
    val (_, jdbcS) = tracer.phase(inv, "replay") {
      val log = spark.readStream.schema(scanEnc.schema)
        .parquet(s"$base/${meta.table}/v${meta.version}").as[Scan].map(pose)
      val (_, jq) = Recorder.recordJdbc(log, PoseTopic, "geometry_msgs/PoseStamped",
        catalog, url, s"$base/_ckpt_pose", props)
      jq.awaitTermination()
    }

    // Phase 3: typed readback from both sinks.
    val (ds, resolveS) = tracer.phase(inv, "readback_resolve")(
      Recorder.readback[Scan](spark, ScanTopic, catalog, base))
    val (back, scanS) = tracer.phase(inv, "readback_scan")(ds.collect())
    val (jds, jResolveS) = tracer.phase(inv, "readback_jdbc_resolve")(
      Recorder.readbackJdbc[PoseStamped](spark, PoseTopic, catalog, url))
    val (jback, jScanS) = tracer.phase(inv, "readback_jdbc_scan")(jds.collect())
    val wallS = (System.nanoTime() - t0) / 1e9

    // Untimed: the exact-multiset check and the per-trigger figures.
    val failed = multisetDiff(gen.sent.toSeq, back.toSeq) +
      multisetDiff(gen.sent.toSeq.map(pose), jback.toSeq)
    tracer.drain()
    val seen = progress.of(q.id)
    val triggers = seen.map(_._1)
    val adds = gen.adds.toIndexedSeq
    var committed = 0L
    val (lags, backlogs) = seen.map { case (t, commitNs) =>
      val end = t.sources.head.endOffset.trim.toInt
      committed += t.numInputRows
      val createdByCommit = adds.takeWhile(_._1 <= commitNs).lastOption.map(_._2).getOrElse(0L)
      ((commitNs - adds(end)._1) / 1e6, createdByCommit - committed)
    }.unzip
    if (tracer.enabled) {
      val toNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      for (t <- triggers) {
        val s = java.time.Instant.parse(t.timestamp).toEpochMilli * 1000000L + toNs
        tracer.spans += Span(inv, "trigger", s,
          s + t.durationMs.get("triggerExecution").longValue * 1000000L)
      }
    }
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$base/${meta.table}"))
    val nFiles = try files.iterator().asScala.count(_.toString.endsWith(".parquet")) finally files.close()
    PassResult(wallS, gen.sent.size.toLong, failed, lags, triggers,
      if (backlogs.isEmpty) 0L else backlogs.max, regScan + regPose, jdbcS,
      resolveS, scanS, jResolveS, jScanS, nFiles.toLong, gen.maxLateMs)
  }

  /** Size of the symmetric multiset difference: messages lost, duplicated
    * or changed on the way (a changed message counts once each way). */
  def multisetDiff[T](expected: Seq[T], got: Seq[T]): Long = {
    val left = mutable.HashMap.empty[T, Int]
    expected.foreach(x => left(x) = left.getOrElse(x, 0) + 1)
    var extra = 0L
    got.foreach { x =>
      left.get(x) match {
        case Some(c) if c > 0 => left(x) = c - 1
        case _ => extra += 1
      }
    }
    left.values.map(_.toLong).sum + extra
  }
}
