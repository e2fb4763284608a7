package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.7 — windowed event-time analytics, batch-emulated over the
  * `events` fixture so DuckDB can oracle-check them. The *same* window
  * expressions run incrementally under Structured Streaming — the
  * streaming twins (MemoryStream + watermark/session_window/state) live
  * in graft.streaming + StreamingSpec, where the no-oracle semantics
  * (late data, state eviction) are asserted directly.
  *
  * Scale notes (100 TB/day of events):
  *  - tumbling/sliding aggs are hash-aggregates keyed by (window, type):
  *    map-side partial agg means the shuffle carries one row per
  *    (partition, window, type), not per event.
  *  - sessionization is the classic gaps-and-islands: one shuffle on
  *    user_id + one in-partition sort; no self-join. Streaming twin uses
  *    session_window() with watermark-driven state eviction.
  *  - window starts are emitted as epoch-µs BIGINT (R4) — cross-engine
  *    comparable and unambiguous across timezones.
  */
object Streaming extends OpGroup {

  private val HalfHourUs = 1800000000L

  def qs: Seq[Q] = Seq(
    Q(
      "q_stream_tumble",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             asMoney(sum(money("value"))).as("sum_value"))
        .select(unix_micros(col("w.start")).as("win_us"),
                col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_us"), col("event_type")),
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_us, event_type,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY win_us, event_type
        |ORDER BY win_us, event_type""".stripMargin),

    Q(
      // 1h windows every 30min: window() fans each event into exactly 2
      // overlapping windows (Expand, then the same hash-agg as tumbling).
      "q_stream_slide",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts_utc"), "1 hour", "30 minutes").as("w"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"),
             asMoney(sum(money("value"))).as("sum_value"))
        .select(unix_micros(col("w.start")).as("win_us"),
                col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_us"), col("event_type")),
      s"""WITH x AS (
        |  SELECT epoch_us(ts) - epoch_us(ts) % $HalfHourUs AS t30,
        |    event_type, value
        |  FROM events),
        |e AS (
        |  SELECT unnest([t30 - $HalfHourUs, t30]) AS win_us,
        |    event_type, value
        |  FROM x)
        |SELECT win_us, event_type, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM e GROUP BY win_us, event_type
        |ORDER BY win_us, event_type""".stripMargin),

    Q(
      // per-user sessions with a 30-minute inactivity gap —
      // gaps-and-islands: flag session starts with lag(), number sessions
      // with a running sum, aggregate per (user, session).
      "q_stream_session",
      (s, d) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"))
          .withColumn("prev_us", lag(col("ts_us"), 1).over(ord))
          .withColumn("new_s",
            when(col("prev_us").isNull ||
                 col("ts_us") - col("prev_us") > HalfHourUs, 1).otherwise(0))
          .withColumn("sid", sum(col("new_s")).over(run))
          .groupBy(col("user_id"), col("sid"))
          .agg(count(lit(1)).as("n_events"),
               min(col("ts_us")).as("start_us"),
               (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
          .orderBy(col("user_id"), col("sid"))
      },
      s"""WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
        |      AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL
        |                   OR ts_us - prev_us > $HalfHourUs
        |                 THEN 1 ELSE 0 END AS new_s
        |  FROM t),
        |g AS (
        |  SELECT *, SUM(new_s) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, CAST(sid AS BIGINT) AS sid, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us,
        |  MAX(ts_us) - MIN(ts_us) AS dur_us
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, sid""".stripMargin),

    Q(
      // time-series resample + forward fill: each user's event values
      // sampled onto a fixed 6-hour grid, carrying the last observation
      // forward — the asof machinery (union-tag + running last) applied
      // to gap-filling. One shuffle on user_id; the grid is generated,
      // never materialized as input. Tie note: verified no duplicate
      // (user_id, ts_us) events at any fixture scale, so "last
      // observation" is unique (DeterminismSpec double-runs guard it).
      "q_ts_resample",
      (s, d) => {
        val stepUs = 6L * 3600 * 1000000
        val startUs = 1704067200000000L // 2024-01-01 00:00 UTC
        val endUs = 1706745600000000L   // 2024-02-01 00:00 UTC
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts_us"),
                  moneyOut(col("value")).as("v"),
                  lit(0).as("is_grid"))
        val grid = Tables.events(s, d).select(col("user_id")).distinct()
          .select(col("user_id"),
                  explode(expr(s"sequence(${startUs}L, ${endUs}L, ${stepUs}L)"))
                    .as("ts_us"),
                  lit(null).cast("double").as("v"),
                  lit(1).as("is_grid"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("is_grid").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.unionByName(grid)
          .withColumn("ffill", last(col("v"), ignoreNulls = true).over(w))
          .filter(col("is_grid") === 1)
          .select(col("user_id"), col("ts_us").as("grid_us"),
                  coalesce(col("ffill"), lit(-1).cast("double"))
                    .as("v_ffill"))
          .orderBy(col("user_id"), col("grid_us"))
      },
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CAST(ROUND(CAST(value AS DECIMAL(18,2)), 2) AS DOUBLE) AS v,
        |    0 AS is_grid
        |  FROM events),
        |grid AS (
        |  SELECT u.user_id, g.ts_us, CAST(NULL AS DOUBLE) AS v,
        |    1 AS is_grid
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN (SELECT unnest(range(1704067200000000,
        |    1706745600000001, 21600000000)) AS ts_us) g),
        |u AS (SELECT * FROM ev UNION ALL BY NAME SELECT * FROM grid),
        |f AS (
        |  SELECT *, last_value(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts_us ASC, is_grid ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill
        |  FROM u)
        |SELECT user_id, ts_us AS grid_us,
        |  COALESCE(ffill, CAST(-1 AS DOUBLE)) AS v_ffill
        |FROM f WHERE is_grid = 1
        |ORDER BY user_id, grid_us""".stripMargin),

    Q(
      // OHLC bars: per (event_type × 6h bar) open/high/low/close of
      // `value` — the financial-resample reduction. Open/close come
      // from ONE hash-aggregate via lexicographic struct min/max over
      // (ts, id, value) — never a per-group sort or window; (ts, id)
      // is a total order so ties can't flap the hash. Money stays
      // DECIMAL inside the aggregate (R2), widens to DOUBLE at the
      // edge (R9).
      "q_ts_ohlc",
      (s, d) => {
        val BarUs = 21600000000L // 6 h
        def keyed = struct(col("ts_us").as("t"), col("event_id").as("i"),
                           money("value").as("v"))
        Tables.events(s, d)
          .groupBy(col("event_type"),
                   (col("ts_us") - pmod(col("ts_us"), lit(BarUs)))
                     .as("bar_us"))
          .agg(count(lit(1)).as("n"),
               min(keyed).as("_o"), max(keyed).as("_c"),
               min(money("value")).as("_lo"),
               max(money("value")).as("_hi"))
          .select(col("event_type"), col("bar_us"), col("n"),
                  col("_o.v").cast("double").as("open"),
                  col("_hi").cast("double").as("high"),
                  col("_lo").cast("double").as("low"),
                  col("_c.v").cast("double").as("close"))
          .orderBy(col("event_type"), col("bar_us"))
      },
      """SELECT event_type,
        |  -- floor-mod, not %: the Spark side buckets with pmod (floor
        |  -- semantics), and DuckDB's % truncates — a pre-epoch ts
        |  -- would land in a different bar (review r4 full-repo pass)
        |  epoch_us(ts) - ((epoch_us(ts) % 21600000000 + 21600000000)
        |                  % 21600000000) AS bar_us,
        |  COUNT(*) AS n,
        |  CAST((min(struct_pack(t := epoch_us(ts), i := event_id,
        |    v := CAST(value AS DECIMAL(18,2))))).v AS DOUBLE) AS open,
        |  CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS high,
        |  CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS low,
        |  CAST((max(struct_pack(t := epoch_us(ts), i := event_id,
        |    v := CAST(value AS DECIMAL(18,2))))).v AS DOUBLE) AS close
        |FROM events
        |GROUP BY event_type, bar_us
        |ORDER BY event_type, bar_us""".stripMargin),

    Q(
      // seasonal decomposition of hourly event volume: the hour-of-day
      // profile is the SEASONAL expectation (mean hourly count over
      // all observed days), and the top-20 |actual − expected| cells
      // are the anomalies a volume monitor pages on — the seasonal
      // counterpart of q_etl_dq_anomaly's global 3σ gate (a 9am spike
      // is normal at 9am, anomalous at 3am; a global gate can't tell).
      // All integer: counts, a global distinct-day scalar D, and the
      // residual numerator n·D − tot, so the top-20 ORDER BY runs on
      // exact integers and the scale-4 ratios emerge once through
      // intRatio4 (negative residuals via its documented CASE mirror
      // on the oracle side). Scale shape: one (day, hod) hash-agg over
      // the corpus, then the 24-row profile and the 1-row day count
      // broadcast back onto the ≤ 24·days cells — the corpus is
      // touched once and never windowed.
      "q_ts_seasonal",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(expr(s"ts_us div $DayUs").as("day"),
                  expr("(ts_us div 3600000000) % 24").as("hod"))
        val hh = ev.groupBy(col("day"), col("hod"))
          .agg(count(lit(1)).as("n"))
        val prof = hh.groupBy(col("hod")).agg(sum(col("n")).as("tot"))
          .select(col("hod").as("hod2"), col("tot"))
        val days = ev.agg(countDistinct(col("day")).as("nd"))
        hh.join(broadcast(prof), col("hod") === col("hod2"))
          .crossJoin(broadcast(days))
          .withColumn("rnum", col("n") * col("nd") - col("tot"))
          .select(col("day"), col("hod"), col("n"),
                  intRatio4(col("tot") * 10000, col("nd")).as("expected4"),
                  intRatio4(col("rnum") * 10000, col("nd")).as("resid4"),
                  abs(col("rnum")).as("_ord"))
          .orderBy(col("_ord").desc, col("day"), col("hod"))
          .limit(20)
          .drop("_ord")
          .orderBy(col("day"), col("hod"))
      },
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod
        |  FROM events),
        |hh AS (SELECT day, hod, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |prof AS (
        |  SELECT hod, CAST(SUM(n) AS BIGINT) AS tot FROM hh GROUP BY hod),
        |dd AS (SELECT COUNT(DISTINCT day) AS nd FROM ev),
        |j AS (
        |  SELECT hh.day, hh.hod, hh.n, prof.tot, dd.nd,
        |    hh.n * dd.nd - prof.tot AS rnum
        |  FROM hh JOIN prof ON prof.hod = hh.hod CROSS JOIN dd),
        |top AS (
        |  SELECT * FROM j ORDER BY abs(rnum) DESC, day, hod LIMIT 20)
        |SELECT day, hod, n,
        |  CAST((2 * tot * 10000 + nd) // (2 * nd) AS DOUBLE) / 10000.0
        |    AS expected4,
        |  CAST(CASE WHEN rnum >= 0
        |       THEN (2 * rnum * 10000 + nd) // (2 * nd)
        |       ELSE -((2 * (-rnum) * 10000 + nd) // (2 * nd)) END
        |    AS DOUBLE) / 10000.0 AS resid4
        |FROM top ORDER BY day, hod""".stripMargin)
  )
}
