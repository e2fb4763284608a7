package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Top-level so Spark can derive an Encoder without outer-scope capture. */
case class Ev(ts: Timestamp, user: String, value: Double)

/** Top-level for Encoder derivation (envelope-source tests). */
case class Ev2(user: String, value: Double, ts: Timestamp)
case class Hdr(key: String, value: Array[Byte])
case class EnvRow(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp,
    timestampType: Int, headers: Seq[Hdr])

/** Top-level for Encoder derivation (stream-stream join test). */
case class Imp(its: Timestamp, ad: String)
/** Top-level for Encoder derivation (stream-stream join test). */
case class Clk(cts: Timestamp, ad: String)

/** transformWithState processor: running per-user event counter with
  * explicit ValueState (the Spark-4-native successor to
  * mapGroupsWithState; requires the RocksDB state store). */
class RunningCountProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, Ev, (String, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var countState: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    countState = getHandle.getValueState[Long](
      "count", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      key: String, rows: Iterator[Ev],
      timerValues: TimerValues): Iterator[(String, Long)] = {
    val total =
      (if (countState.exists()) countState.get() else 0L) + rows.size
    countState.update(total)
    Iterator.single((key, total))
  }
}

/** transformWithState processor with EVENT-TIME TIMERS: per-user session
  * that emits (user, event_count) only when the watermark passes the last
  * event + 10 min — the timeout-emission pattern (abandoned-cart alerts,
  * session finalization) that needs explicit timers, not just state.
  * Re-registration deletes the superseded timer so a key fires once per
  * quiet period, not once per batch. */
class SessionTimeoutProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    String, Ev, (String, Long)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
    TimeMode, TimerValues, TTLConfig, ValueState}

  // (event count, registered expiry ms)
  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)](
      "sess", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)

  override def handleInputRows(
      key: String, rows: Iterator[Ev],
      timerValues: TimerValues): Iterator[(String, Long)] = {
    var maxTs = 0L
    var n = 0L
    rows.foreach { e => n += 1; maxTs = math.max(maxTs, e.ts.getTime) }
    val (prevN, prevExp) =
      if (st.exists()) st.get() else (0L, -1L)
    if (prevExp >= 0) getHandle.deleteTimer(prevExp)
    val exp = maxTs + 600000L // last event + 10 min
    getHandle.registerTimer(exp)
    st.update((prevN + n, exp))
    Iterator.empty
  }

  override def handleExpiredTimer(
      key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long)] = {
    val out =
      if (st.exists()) Iterator.single((key, st.get()._1))
      else Iterator.empty
    st.clear()
    out
  }
}

/** True-streaming semantics (SURVEY §2.7 ⊘ rows) — no SQL oracle exists
  * for these, so behavior is asserted directly: incremental equivalence
  * with the batch twin, watermark-driven late-data drops, streaming
  * dedup, explicit per-key state. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("tumbling window agg over MemoryStream matches the batch twin") {
    implicit val ctx = spark.sqlContext
    def agg(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.Windowed.tumble(df, col("ts"), "10 minutes",
        keys = Seq(col("user")),
        aggs = Seq(count(lit(1)).as("n"), sum(col("value")).as("s")))
    val in = MemoryStream[Ev]
    val q = agg(in.toDF()).writeStream.format("memory").queryName("tumble_t")
      .outputMode(OutputMode.Complete()).start()
    val data = Seq(
      Ev(ts(1), "a", 1.0), Ev(ts(4), "a", 2.0), Ev(ts(11), "a", 4.0),
      Ev(ts(7), "b", 8.0), Ev(ts(19), "b", 16.0))
    in.addData(data)
    q.processAllAvailable()
    val streamed = spark.table("tumble_t").orderBy("win_us", "user").collect()
    // the SAME builder runs on the batch frame — incremental equivalence
    val batch = agg(data.toDF()).orderBy("win_us", "user").collect()
    q.stop()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 4) // a:[10:00,10:10), a:[10:10,..), b:.., b:..
  }

  test("watermark drops events later than 10 minutes behind the max ts") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("win_us"), col("n"))
    // append mode: a window only emits once the watermark passes its end
    val q = agg.writeStream.format("memory").queryName("late_t")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(ts(1), "a", 1.0), Ev(ts(2), "a", 1.0)) // window [10:00,10:05)
    q.processAllAvailable()
    in.addData(Ev(ts(30), "a", 1.0)) // watermark -> 10:20; closes [10:00,10:05)
    q.processAllAvailable()
    in.addData(Ev(ts(3), "a", 1.0))  // 27 min late -> dropped
    q.processAllAvailable()
    in.addData(Ev(ts(45), "a", 1.0)) // watermark -> 10:35; closes [10:30,10:35)
    q.processAllAvailable()
    val rows = spark.table("late_t").orderBy("win_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    q.stop()
    val us = (m: Int) => ts(m).getTime * 1000L
    // the late event did NOT bump [10:00,10:05) to n=3
    assert(rows == Seq(us(0) -> 2L, us(30) -> 1L))
  }

  test("content dedup runs INCREMENTALLY: batch fingerprint on a stream") {
    // the batch dedup family's map-side signature (Text.fingerprint is
    // pure per-row expressions) keys streaming dedup unchanged — docs
    // with identical content collapse across micro-batches, reworded
    // docs survive; the watermark bounds the signature state
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val deduped = graft.api.Text.fingerprint(
        in.toDF().withWatermark("ts", "10 minutes"), col("user"))
      .dropDuplicatesWithinWatermark(Seq("fp"))
    val q = deduped.writeStream.format("memory").queryName("fpdedup_t")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(ts(1), "same exact text", 1.0),
               Ev(ts(2), "same exact text", 2.0),   // content dup, drops
               Ev(ts(3), "different words here", 3.0))
    q.processAllAvailable()
    in.addData(Ev(ts(4), "same exact text", 4.0))   // cross-batch dup
    q.processAllAvailable()
    val kept = spark.table("fpdedup_t").select("user").as[String]
      .collect().toSeq.sorted
    q.stop()
    assert(kept == Seq("different words here", "same exact text"),
      s"got $kept")
  }

  test("dropDuplicatesWithinWatermark suppresses redelivered events") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val dedup = in.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("user"))
    val q = dedup.writeStream.format("memory").queryName("dedup_t")
      .outputMode(OutputMode.Append()).start()
    in.addData(Ev(ts(1), "a", 1.0), Ev(ts(1), "a", 1.0)) // same batch dup
    q.processAllAvailable()
    in.addData(Ev(ts(2), "a", 99.0)) // redelivery within watermark
    q.processAllAvailable()
    val n = spark.table("dedup_t").count()
    q.stop()
    assert(n == 1)
  }

  test("mapGroupsWithState keeps running per-user counters across batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val counted = in.toDS()
      .groupByKey(_.user)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: String, evs: Iterator[Ev], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + evs.size
          state.update(total)
          (user, total)
      }
    val q = counted.writeStream.format("memory").queryName("state_t")
      .outputMode(OutputMode.Update()).start()
    in.addData(Ev(ts(1), "a", 1.0), Ev(ts(2), "a", 1.0), Ev(ts(3), "b", 1.0))
    q.processAllAvailable()
    in.addData(Ev(ts(4), "a", 1.0))
    q.processAllAvailable()
    val last = spark.table("state_t").groupBy("_1").agg(max("_2"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    q.stop()
    assert(last == Map("a" -> 3L, "b" -> 1L)) // state survived batch 1 -> 2
  }

  test("transformWithState keeps ValueState across batches (RocksDB store)") {
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val counted = in.toDS()
        .groupByKey(_.user)
        .transformWithState(new RunningCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = counted.writeStream.format("memory").queryName("tws_t")
        .outputMode(OutputMode.Update()).start()
      in.addData(Ev(ts(1), "a", 1.0), Ev(ts(2), "a", 1.0), Ev(ts(3), "b", 1.0))
      q.processAllAvailable()
      in.addData(Ev(ts(4), "a", 1.0))
      q.processAllAvailable()
      val last = spark.table("tws_t").groupBy("_1").agg(max("_2"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      q.stop()
      assert(last == Map("a" -> 3L, "b" -> 1L))
    } finally
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("event-time timers: session emits ONLY when the watermark passes last+10min") {
    implicit val ctx = spark.sqlContext
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val out = in.toDS()
        .withWatermark("ts", "1 minute")
        .groupByKey(_.user)
        .transformWithState(new SessionTimeoutProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      val q = out.writeStream.format("memory").queryName("timer_t")
        .outputMode(OutputMode.Append()).start()
      // session a: two events ending 10:02 -> timer at 10:12
      in.addData(Ev(ts(1), "a", 1.0), Ev(ts(2), "a", 1.0))
      q.processAllAvailable()
      assert(spark.table("timer_t").isEmpty,
        "session must not emit while the watermark is behind its expiry")
      // b at 10:30 advances the watermark to 10:29 > 10:12 -> a's timer
      // fires (the no-data microbatch picks it up); b's own timer (10:40)
      // stays pending
      in.addData(Ev(ts(30), "b", 1.0))
      q.processAllAvailable()
      val fired = spark.table("timer_t")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      q.stop()
      assert(fired == Seq(("a", 2L)),
        s"expected a's session (2 events) to time out, got $fired")
    } finally
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("rate source ingest: live-topic analog lands as a typed table") {
    // deterministic rate-micro-batch source -> typed projection -> parquet
    // sink: the subscribe-loop shape of the reference's recorder
    val base = tmpDir("rate")
    val q = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 10).option("numPartitions", 2)
      .load()
      .selectExpr("value AS event_id", "timestamp AS ts")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var n = 0L
      while (n < 10 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        n = try spark.read.parquet(s"$base/out").count()
            catch { case _: Exception => 0L }
      }
      assert(n >= 10, s"only $n rows ingested")
      val ids = spark.read.parquet(s"$base/out")
        .orderBy("event_id").limit(10)
        .collect().map(_.getLong(0)).toSeq
      assert(ids == (0L until 10L)) // deterministic first batch
    } finally q.stop()
  }

  test("stream-stream join: watermarked time-range inner + outer expiry") {
    // the ad-attribution shape: impressions ⋈ clicks within 10 minutes
    // after the impression, both sides watermarked so join state expires
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[Imp]
    val clks = MemoryStream[Clk]
    val joined = imps.toDF().withWatermark("its", "10 minutes")
      .join(
        clks.toDF().select(col("cts"), col("ad").as("c_ad"))
          .withWatermark("cts", "10 minutes"),
        expr("ad = c_ad AND cts >= its AND " +
             "cts <= its + interval 10 minutes"),
        "leftOuter")
      .select(col("ad"), unix_micros(col("its")).as("imp_us"),
              unix_micros(col("cts")).as("clk_us"))
    val q = joined.writeStream.format("memory").queryName("ssj_t")
      .outputMode(OutputMode.Append()).start()
    // A clicks in-range; B's click is 20 min late (outside the range);
    // C never clicks
    imps.addData(Imp(ts(0), "A"), Imp(ts(1), "B"), Imp(ts(2), "C"))
    clks.addData(Clk(ts(5), "A"), Clk(ts(21), "B"))
    q.processAllAvailable()
    // push both watermarks far past every impression's join window so
    // unmatched state expires and the outer rows emit
    imps.addData(Imp(Timestamp.valueOf("2024-01-01 12:00:00"), "zz"))
    clks.addData(Clk(Timestamp.valueOf("2024-01-01 12:00:00"), "zz"))
    q.processAllAvailable()
    imps.addData(Imp(Timestamp.valueOf("2024-01-01 13:00:00"), "zz"))
    clks.addData(Clk(Timestamp.valueOf("2024-01-01 13:00:00"), "zz"))
    q.processAllAvailable()
    val rows = spark.table("ssj_t")
      .filter(col("ad").isin("A", "B", "C"))
      .collect()
      .map(r => (r.getString(0), r.get(2) != null)).toSeq.sorted
    q.stop()
    // A matched; B and C expired unmatched → null click side
    assert(rows == Seq(("A", true), ("B", false), ("C", false)),
      s"got $rows")
  }

  test("stream-static join: per-batch dim enrichment, dim broadcast") {
    // the enrichment shape: a live stream joined to a static dimension
    // table — planned per micro-batch, so the dim broadcasts and the
    // stream side never shuffles for it
    implicit val ctx = spark.sqlContext
    val dim = Seq(("A", "alpha"), ("B", "beta")).toDF("ad", "label")
    val evs = MemoryStream[Imp]
    val joined = evs.toDF().join(broadcast(dim), Seq("ad"), "left")
      .select(col("ad"), col("label"))
    val q = joined.writeStream.format("memory").queryName("ss_static")
      .outputMode(OutputMode.Append()).start()
    evs.addData(Imp(ts(0), "A"), Imp(ts(1), "X"))
    q.processAllAvailable()
    evs.addData(Imp(ts(2), "B"))
    q.processAllAvailable()
    val rows = spark.table("ss_static").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSeq.sorted
    q.stop()
    assert(rows == Seq(("A", Some("alpha")), ("B", Some("beta")),
                       ("X", None)), s"got $rows")
  }

  test("OHLC bars run incrementally: struct min/max agg on a stream") {
    implicit val ctx = spark.sqlContext
    // the q_ts_ohlc reduction — open/close via lexicographic struct
    // min/max — is a plain hash-agg, so the SAME builder streams in
    // update/complete mode with per-bar state and no sort anywhere
    def ohlc(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user"),
               window(col("ts"), "10 minutes").as("bar"))
      .agg(min(struct(col("ts"), col("value"))).as("o"),
           max(struct(col("ts"), col("value"))).as("c"),
           min(col("value")).as("low"), max(col("value")).as("high"))
      .select(col("user"), col("bar.start").as("bar_start"),
              col("o.value").as("open"), col("high"), col("low"),
              col("c.value").as("close"))
    val in = MemoryStream[Ev]
    val q = ohlc(in.toDF()).writeStream.format("memory").queryName("ohlc_t")
      .outputMode(OutputMode.Complete()).start()
    // two micro-batches: the open of bar 10:00 arrives in batch 1, a
    // LOWER low and the true close arrive in batch 2 — state must merge
    in.addData(Ev(ts(1), "a", 5.0), Ev(ts(4), "a", 9.0))
    q.processAllAvailable()
    in.addData(Ev(ts(2), "a", 3.0), Ev(ts(8), "a", 7.0))
    q.processAllAvailable()
    val data = Seq(Ev(ts(1), "a", 5.0), Ev(ts(4), "a", 9.0),
                   Ev(ts(2), "a", 3.0), Ev(ts(8), "a", 7.0))
    val streamed = spark.table("ohlc_t").orderBy("bar_start").collect()
    val batch = ohlc(data.toDF()).orderBy("bar_start").collect()
    q.stop()
    assert(streamed.toSeq == batch.toSeq)
    val r = streamed.head
    assert(r.getDouble(2) == 5.0 && r.getDouble(3) == 9.0 &&
           r.getDouble(4) == 3.0 && r.getDouble(5) == 7.0,
      s"bad bar: $r")
  }

  test("topk_by_long streams: serialized heap state merges across batches") {
    implicit val ctx = spark.sqlContext
    // the custom TypedImperativeAggregate must behave like Spark's own
    // sketches in a streaming agg: partial heaps serialize into the
    // state store and merge on the next micro-batch
    def top(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("user", "cast(value as bigint) AS v",
                  "cast(value * 10 as bigint) AS o")
      .groupBy("user").agg(expr("topk_by_long(v, o, 2)").as("t"))
    val in = MemoryStream[Ev]
    val q = top(in.toDF()).writeStream.format("memory").queryName("topk_t")
      .outputMode(OutputMode.Complete()).start()
    in.addData(Ev(ts(1), "a", 5.0), Ev(ts(2), "a", 1.0))
    q.processAllAvailable()
    // batch 2 delivers a better item — stored heap state must evict
    in.addData(Ev(ts(3), "a", 9.0))
    q.processAllAvailable()
    val got = spark.table("topk_t").head().getSeq[Long](1)
    q.stop()
    assert(got == Seq(9L, 5L), s"got $got")
  }

  test("session_window groups events by 30-minute inactivity gaps") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val sess = in.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), col("n"))
    val q = sess.writeStream.format("memory").queryName("sess_t")
      .outputMode(OutputMode.Append()).start()
    // user a: 10:01, 10:05 (one session), 11:30 (new session after gap)
    in.addData(Ev(ts(1), "a", 1.0), Ev(ts(5), "a", 1.0),
               Ev(Timestamp.valueOf("2024-01-01 11:30:00"), "a", 1.0))
    q.processAllAvailable()
    in.addData(Ev(Timestamp.valueOf("2024-01-01 14:00:00"), "z", 1.0))
    q.processAllAvailable() // advance watermark so sessions close
    val rows = spark.table("sess_t").filter(col("user") === "a")
      .orderBy(col("n").desc).collect().map(_.getLong(1)).toSeq
    q.stop()
    assert(rows == Seq(2L, 1L))
  }

  test("foreachBatch parquet sink: commit markers make batch replay idempotent") {
    implicit val ctx = spark.sqlContext
    val dir = tmpDir("fb-sink")
    // foreachBatch's contract is AT-LEAST-once: after a restart the
    // last batchId can be re-delivered. Exactly-once lands in the sink:
    // a per-batch commit marker (written AFTER the data) turns replays
    // into no-ops, and a crashed half-write (no marker) is safely
    // overwritten on redelivery. Underscore-prefixed markers are
    // invisible to Spark's file index, so readers never trip on them.
    def writeBatch(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                   batchId: Long): Unit = {
      val dest = new java.io.File(s"$dir/batch=$batchId")
      val marker = new java.io.File(dest, "_GRAFT_COMMITTED")
      if (!marker.exists()) {
        df.write.mode("overwrite").parquet(dest.toString)
        marker.createNewFile(): Unit
      }
    }
    val in = MemoryStream[Ev]
    val q = in.toDF().writeStream
      .option("checkpointLocation", tmpDir("fb-ck"))
      .foreachBatch(writeBatch _).start()
    in.addData(Ev(ts(1), "a", 1.0), Ev(ts(2), "b", 2.0))
    q.processAllAvailable()
    in.addData(Ev(ts(3), "c", 3.0))
    q.processAllAvailable()
    q.stop()
    def readAll() = spark.read.parquet(dir)
    assert(readAll().count() == 3)
    // replay batch 1 (same id, even different content): marker skips it
    writeBatch(Seq(Ev(ts(9), "dup", 99.0)).toDF(), 1L)
    assert(readAll().count() == 3)
    assert(readAll().filter(col("user") === "dup").isEmpty)
    // crashed half-write: data present, NO marker → redelivery must
    // overwrite cleanly rather than duplicate
    assert(new java.io.File(s"$dir/batch=1/_GRAFT_COMMITTED").delete())
    writeBatch(Seq(Ev(ts(3), "c2", 3.0)).toDF(), 1L)
    assert(readAll().count() == 3)
    assert(readAll().filter(col("user") === "c2").count() == 1)
  }

  test("Trigger.AvailableNow: backfill drains all files then terminates; restart reads only new files") {
    // the cron-backfill shape of a 100 TB topic lake: process
    // everything currently landed, exit (no always-on cluster), and on
    // the next invocation resume from the SAME checkpoint so only
    // newly-landed files are read — exactly-once across restarts
    val src = tmpDir("an-src")
    val out = tmpDir("an-out")
    val ck = tmpDir("an-ck")
    def addFile(rows: Seq[Ev], name: String): Unit = {
      val stage = tmpDir(s"an-stage-$name")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet")): Unit
    }
    val sch = Seq.empty[Ev].toDF().schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(sch).parquet(src)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // AvailableNow queries STOP on their own once the snapshot of
      // files at start time is drained — that self-termination IS the
      // property under test
      assert(q.awaitTermination(120000), "AvailableNow did not terminate")
    }
    addFile(Seq(Ev(ts(1), "a", 1.0), Ev(ts(2), "b", 2.0)), "f1")
    runOnce()
    val r1 = spark.read.parquet(out)
    assert(r1.count() == 2, "first backfill must drain both seeded rows")
    // second invocation, same checkpoint: only the new file lands
    addFile(Seq(Ev(ts(3), "c", 3.0)), "f2")
    runOnce()
    val r2 = spark.read.parquet(out)
    assert(r2.count() == 3, "restart must append ONLY the new file")
    assert(r2.filter(col("user") === "a").count() == 1,
      "no duplicate redelivery of already-committed files")
  }

  test("kafka-shaped envelope: encode->decode roundtrip; corrupt flagged") {
    import graft.streaming.Envelope
    val df = Seq(Ev(ts(1), "a", 1.0), Ev(ts(2), "b", 2.0)).toDF()
    val env = Envelope.encodeJson(df, "events", col("user"), col("ts"))
    // the column contract IS spark-sql-kafka's
    assert(env.columns.toSeq == Envelope.schema.fieldNames.toSeq)
    val back = Envelope.decodeJson(env, df.schema)
    val got = back.select("user", "value", "ts").as[Ev2]
      .collect().sortBy(_.user).toSeq
    assert(got == Seq(Ev2("a", 1.0, ts(1)), Ev2("b", 2.0, ts(2))))
    assert(back.filter(col("_corrupt")).count() == 0)
    assert(back.columns.contains("offset") && back.columns.contains("topic"))
    // a garbage payload survives decode as a flagged row, never a crash
    val bad = env.limit(1).withColumn("value",
      lit("not json".getBytes("UTF-8")))
    val badBack = Envelope.decodeJson(bad, df.schema).collect()
    assert(badBack.length == 1 &&
      badBack(0).getAs[Boolean]("_corrupt"),
      "corrupt payload must be flagged, not dropped")
  }

  test("envelope schema contract: field-for-field the kafka source schema") {
    // VERDICT r6 task 7 (no broker / connector jar in this sandbox):
    // pin the contract itself. The expected schema below is transcribed
    // from the published Structured Streaming + Kafka integration
    // contract (spark-sql-kafka's fixed output schema) — if Envelope
    // ever drifts from it, a production swap to format("kafka") would
    // break analytics code silently; this test makes the drift loud.
    import org.apache.spark.sql.types._
    import graft.streaming.Envelope
    val kafkaSourceSchema = StructType(Seq(
      StructField("key", BinaryType),
      StructField("value", BinaryType),
      StructField("topic", StringType),
      StructField("partition", IntegerType),
      StructField("offset", LongType),
      StructField("timestamp", TimestampType),
      StructField("timestampType", IntegerType),
      StructField("headers", ArrayType(StructType(Seq(
        StructField("key", StringType),
        StructField("value", BinaryType))), containsNull = false))))
    // name + type + order, not just names
    assert(Envelope.schema.map(f => (f.name, f.dataType)) ==
           kafkaSourceSchema.map(f => (f.name, f.dataType)),
      s"Envelope.schema drifted from the kafka source contract:\n" +
      s"  got      ${Envelope.schema.toDDL}\n" +
      s"  expected ${kafkaSourceSchema.toDDL}")
    // and the producer twin actually EMITS that schema (types included):
    // a matching constant with a mismatched encoder would still break
    // the transport swap
    val df = Seq(Ev(ts(1), "a", 1.0)).toDF()
    val emitted = Envelope.encodeJson(df, "events", col("user"), col("ts"))
      .schema.map(f => (f.name, f.dataType))
    assert(emitted == kafkaSourceSchema.map(f => (f.name, f.dataType)),
      s"encodeJson output schema drifted: $emitted")
  }

  test("envelope redelivery dedups on the (topic,partition,offset) cursor") {
    import graft.streaming.Envelope
    implicit val ctx = spark.sqlContext
    val payload = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    def env(off: Long, m: Int, user: String): EnvRow = EnvRow(
      user.getBytes("UTF-8"),
      s"""{"user":"$user","value":1.0}""".getBytes("UTF-8"),
      "events", 0, off, ts(m), 0, Seq.empty)
    val in = MemoryStream[EnvRow]
    val deduped = Envelope.dedupOffsets(
      Envelope.decodeJson(in.toDF(), payload)
        .withWatermark("recv_ts", "10 minutes"))
      .select("user", "offset")
    val q = deduped.writeStream.format("memory").queryName("env_t")
      .outputMode(OutputMode.Append()).start()
    // offset 1 redelivered within the same batch AND a later batch —
    // the at-least-once shape a real bus produces on rebalance
    in.addData(env(1, 1, "a"), env(1, 1, "a"), env(2, 2, "b"))
    q.processAllAvailable()
    in.addData(env(1, 3, "a"), env(3, 4, "c"))
    q.processAllAvailable()
    val rows = spark.table("env_t").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    q.stop()
    assert(rows == Seq(("a", 1L), ("b", 2L), ("c", 3L)),
      s"redelivered offsets must collapse to one row each: $rows")
  }

  test("surrogate offsets: same key within one second never collide") {
    import graft.streaming.Envelope
    // two DISTINCT records, same key, same timestamp: the surrogate
    // offset hashes the payload too, so dedupOffsets must keep both —
    // a (key, whole-second) surrogate collided here and silently
    // dropped one as a fake redelivery (ADVICE r5)
    val df = Seq(Ev(ts(1), "a", 1.0), Ev(ts(1), "a", 2.0)).toDF()
    val env = Envelope.encodeJson(df, "events", col("user"), col("ts"))
    assert(env.select("offset").distinct().count() == 2,
      "distinct payloads sharing (key, ts) must get distinct offsets")
    val kept = Envelope.dedupOffsets(
      Envelope.decodeJson(env, df.schema), withinWatermark = false)
    assert(kept.count() == 2)
    // true redelivery (identical record) still collapses
    val redeliver = env.unionAll(env.limit(1))
    assert(Envelope.dedupOffsets(
      Envelope.decodeJson(redeliver, df.schema),
      withinWatermark = false).count() == 2)
  }

  test("file stream replaying captured envelopes feeds the same decode") {
    import graft.streaming.Envelope
    val base = tmpDir("envreplay")
    val df = Seq(Ev(ts(1), "a", 1.0), Ev(ts(2), "b", 2.0),
                 Ev(ts(3), "a", 4.0)).toDF()
    Envelope.encodeJson(df, "events", col("user"), col("ts"))
      .write.mode("overwrite").parquet(s"$base/capture")
    // transport swap: the SAME decode/agg pipeline, now fed by a file
    // stream of captured envelopes (prod would be format("kafka"))
    val stream = spark.readStream.schema(Envelope.schema)
      .parquet(s"$base/capture")
    val agg = Envelope.decodeJson(stream, df.schema)
      .groupBy(col("user")).agg(sum(col("value")).as("s"))
    val q = agg.writeStream.format("memory").queryName("envreplay_t")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    val got = spark.table("envreplay_t").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    q.stop()
    assert(got == Seq(("a", 5.0), ("b", 2.0)))
  }
}
