package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** Product-analytics operators over the event stream: funnel conversion
  * and cohort retention — the two reductions every event-logging
  * deployment (the reference's domain) runs first.
  *
  * Scale: both are key-partitioned aggregates/joins on user_id — linear,
  * one shuffle per stage, no windows over the full stream. Retention's
  * (cohort × week) matrix is tiny regardless of input size.
  */
object EventOps extends OpGroup {

  def qs: Seq[Q] = Seq(
    Q(
      // ordered funnel signup → click → purchase: each stage's timestamp
      // must be strictly later than the previous stage's FIRST timestamp
      "q_events_funnel",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts_us"))
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("s_us"))
        val s2 = e.filter(col("event_type") === "click")
          .join(s1, "user_id").filter(col("ts_us") > col("s_us"))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_us"))
        val s3 = e.filter(col("event_type") === "purchase")
          .join(s2, "user_id").filter(col("ts_us") > col("c_us"))
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_us"))
        s1.select(lit(1).as("stage"), lit("signup").as("name"),
                  count(lit(1)).as("n_users"))
          .unionByName(s2.select(lit(2).as("stage"),
            lit("click_after_signup").as("name"), count(lit(1)).as("n_users")))
          .unionByName(s3.select(lit(3).as("stage"),
            lit("purchase_after_click").as("name"), count(lit(1)).as("n_users")))
          .orderBy(col("stage"))
      },
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (
        |  SELECT user_id, MIN(ts_us) AS s_us FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(ts_us) AS c_us FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE event_type = 'click' AND ts_us > s_us GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(ts_us) AS p_us FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE event_type = 'purchase' AND ts_us > c_us GROUP BY e.user_id)
        |SELECT 1 AS stage, 'signup' AS name, COUNT(*) AS n_users FROM s1
        |UNION ALL BY NAME
        |SELECT 2 AS stage, 'click_after_signup' AS name,
        |  COUNT(*) AS n_users FROM s2
        |UNION ALL BY NAME
        |SELECT 3 AS stage, 'purchase_after_click' AS name,
        |  COUNT(*) AS n_users FROM s3
        |ORDER BY stage""".stripMargin),

    Q(
      // weekly cohort retention: users bucketed by first-seen week,
      // counted per (cohort_week, weeks_since) activity cell
      "q_events_retention",
      (s, d) => {
        val weekUs = 7L * 24 * 3600 * 1000000
        val e = Tables.events(s, d)
          .select(col("user_id"), (col("ts_us") - col("ts_us") % weekUs)
            .as("week_us"))
          .distinct()
        val cohort = e.groupBy(col("user_id"))
          .agg(min(col("week_us")).as("cohort_us"))
        e.join(cohort, "user_id")
          .select(col("user_id"), col("cohort_us"),
                  ((col("week_us") - col("cohort_us")) / weekUs)
                    .cast("int").as("weeks_since"))
          .groupBy(col("cohort_us"), col("weeks_since"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_us"), col("weeks_since"))
      },
      s"""WITH e AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) - epoch_us(ts) % ${7L * 24 * 3600 * 1000000} AS week_us
        |  FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(week_us) AS cohort_us FROM e GROUP BY user_id)
        |SELECT cohort_us,
        |  CAST((week_us - cohort_us) / ${7L * 24 * 3600 * 1000000} AS INT)
        |    AS weeks_since,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN cohort ON e.user_id = cohort.user_id
        |GROUP BY cohort_us, weeks_since
        |ORDER BY cohort_us, weeks_since""".stripMargin),

    Q(
      // event-sequence transition matrix (1st-order Markov): counts of
      // consecutive (prev_type -> type) per user timeline; '^' marks the
      // start state. lag() over a unique (ts, id) order — one shuffle.
      "q_events_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"),
                  col("event_type"))
          .withColumn("prev",
            coalesce(lag(col("event_type"), 1).over(w), lit("^")))
          .groupBy(col("prev"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("prev"), col("event_type"))
      },
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    COALESCE(lag(event_type) OVER
        |      (PARTITION BY user_id
        |       ORDER BY epoch_us(ts) ASC, event_id ASC), '^') AS prev
        |  FROM events)
        |SELECT prev, event_type, COUNT(*) AS n
        |FROM t GROUP BY prev, event_type
        |ORDER BY prev, event_type""".stripMargin),

    Q(
      // statistical outlier flagging: events whose value sits more than
      // 2σ from their type's mean. Broadcast-stats shape — tiny per-type
      // aggregates join back broadcast, so the corpus is never windowed
      // or shuffled on a non-key. Determinism: mean/σ derive from EXACT
      // integer sums via the identical double expression tree on both
      // engines (never stddev_samp — Spark and DuckDB implement it with
      // different numerics, and a near-boundary row would flap the row
      // set). Accumulation is CENTERED (ADVICE r3): values go to exact
      // cents, each type's MIN anchors them, and Σd / Σd² accumulate as
      // DECIMAL(38,0) (HUGEINT twin). Uncentered DECIMAL(38,4) squares
      // hit precision 38 once |value| is large — Spark then NULLs the
      // sum (nullOnOverflow) and the type silently VANISHES from
      // detection while DuckDB keeps going. Centered, the bound depends
      // only on per-type SPREAD: at a $1M range (1e8 cents → d² ≤ 1e16)
      // the 1e38 capacity holds past 1e22 rows. Cost: one extra 5-row
      // anchor pass over the corpus — correctness over a scan.
      "q_events_outliers",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
                  (money("value") * 100).cast("long").as("vc"))
        val anchors = e.groupBy(col("event_type"))
          .agg(min(col("vc")).as("a"))
          .select(col("event_type").as("t1"), col("a"))
        val dd = (col("vc") - col("a")).cast(D38)
        val st = e.join(broadcast(anchors), col("event_type") === col("t1"))
          .groupBy(col("event_type"), col("a"))
          .agg(sum(dd).cast("double").as("sv"),
               sum(dd * dd).cast("double").as("s2"),
               count(lit(1)).as("n"))
          // n >= 2: a single-row type has no sample variance — without
          // the guard (n-1)=0 rides 0/0 -> NaN and the type silently
          // vanishes from detection; greatest(...,0) clamps the tiny
          // negative float residue of zero-variance groups that sqrt
          // would also turn into NaN
          .filter(col("n") >= 2)
          .select(col("event_type").as("t2"),
                  (col("a").cast("double") + col("sv") / col("n"))
                    .as("mean_c"),
                  sqrt(greatest(
                    (col("s2") - col("sv") * col("sv") / col("n")) /
                      (col("n") - 1), lit(0.0))).as("sd_c"))
        e.join(broadcast(st), col("event_type") === col("t2"))
          .filter(abs(col("vc").cast("double") - col("mean_c")) >
                  lit(2) * col("sd_c"))
          .select(col("event_type"), col("event_id"),
                  (col("vc").cast("double") / 100.0).as("v"),
                  when(col("vc").cast("double") > col("mean_c"), "hi")
                    .otherwise("lo").as("side"))
          .orderBy(col("event_type"), col("event_id"))
      },
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |an AS (SELECT event_type, MIN(vc) AS a FROM e GROUP BY event_type),
        |st AS (
        |  SELECT e.event_type, a,
        |    CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * CAST(vc - a AS HUGEINT))
        |         AS DOUBLE) AS s2,
        |    COUNT(*) AS n
        |  FROM e JOIN an USING (event_type) GROUP BY e.event_type, a),
        |st2 AS (
        |  SELECT event_type, CAST(a AS DOUBLE) + sv / n AS mean_c,
        |    sqrt(greatest((s2 - sv * sv / n) / (n - 1), 0.0)) AS sd_c
        |  FROM st WHERE n >= 2)
        |SELECT e.event_type, event_id, CAST(vc AS DOUBLE) / 100.0 AS v,
        |  CASE WHEN CAST(vc AS DOUBLE) > mean_c THEN 'hi' ELSE 'lo' END
        |    AS side
        |FROM e JOIN st2 USING (event_type)
        |WHERE abs(CAST(vc AS DOUBLE) - mean_c) > 2 * sd_c
        |ORDER BY event_type, event_id""".stripMargin),

    Q(
      // batch sessionization (api.Events.sessionize): gap > 8h starts a
      // new session; per-user session-count / event / duration rollup.
      // The lag flag and the running sum share ONE (user, ts, id) sort —
      // a single shuffle, pinned in PlanSpec. The streaming twin is
      // q_stream_session; this is the backfill/batch form of the same
      // semantics over integer epoch-µs (R4).
      "q_events_sessionize",
      (s, d) => {
        val sess = graft.api.Events.sessionize(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"), col("ts_us")),
          key = col("user_id"), timeUs = col("ts_us"),
          tieBreak = Seq(col("event_id")), gapUs = 28800000000L)
        sess.groupBy(col("user_id"), col("sess"))
          .agg(count(lit(1)).as("n_ev"),
               (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
               sum(col("n_ev")).as("n_events"),
               max(col("n_ev")).as("max_sess_events"),
               // exact integer µs sum → boundary-exact 1e-4-sec round
               // (intRatio4; 1e-4 s = 100 µs, so den = 100·cnt): same
               // latent boundary class avg4 hit in q_ts_fill_forward
               intRatio4(sum(col("dur_us")), count(lit(1)) * 100)
                 .as("avg_dur_sec"))
          .orderBy(col("user_id"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |n AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 28800000000 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY ts_us ASC, event_id ASC)),
        |s AS (
        |  -- the running sum MUST order by the same (ts, event_id) key
        |  -- as the lag window: with ts-only ordering a timestamp tie
        |  -- could number sessions differently than the Spark side
        |  -- (review r4 full-repo pass)
        |  SELECT user_id, ts_us,
        |    SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts_us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM n),
        |g AS (
        |  SELECT user_id, sess, COUNT(*) AS n_ev,
        |    MAX(ts_us) - MIN(ts_us) AS dur_us
        |  FROM s GROUP BY user_id, sess)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(n_ev) AS BIGINT) AS n_events,
        |  CAST(MAX(n_ev) AS BIGINT) AS max_sess_events,
        |  CAST((2*CAST(SUM(dur_us) AS BIGINT) + 100*COUNT(*))
        |       // (200*COUNT(*)) AS DOUBLE) / 10000.0 AS avg_dur_sec
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),

    Q(
      // hourly metric grid with forward fill (api.Events.fillForward):
      // per-type hourly averages on an integer hour index, holes filled
      // with the last observation — the AGGREGATE-grid twin of
      // q_ts_resample (which point-samples raw values). The spine is
      // |types| × |hours| and joins the aggregate, never multiplying
      // raw events; bounds come from the data (one-row agg, broadcast),
      // not constants. Rounding happens BEFORE the fill, so a carried
      // value is bit-identical to the cell it came from on both
      // engines. Exact decimal sum → one double division (R2/R3).
      "q_ts_fill_forward",
      (s, d) => {
        val hourly = Tables.events(s, d)
          // integral FLOOR division, not `/` and not bare `div`:
          // Spark's `/` on longs is DOUBLE division (rounding near a
          // boundary could cross it) and `div` truncates toward zero
          // while the oracle's `//` floors — the q_events_streaks
          // pre-epoch guard applies here too (review r4 full-repo pass)
          .groupBy(col("event_type"),
                   expr("""(ts_us div 3600000000) -
                           (CASE WHEN ts_us % 3600000000 < 0
                            THEN 1 ELSE 0 END)""").as("hr"))
          // boundary-exact avg (intRatio4): the plain avg4 double
          // division hit the x.xxxx5 rounding boundary at sf0.1
          .agg(avgExact4(sum(money("value")), count(lit(1))).as("v"),
               count(lit(1)).as("n_obs"))
        graft.api.Events.fillForward(
            hourly, keys = Seq("event_type"), gridCol = "hr",
            values = Seq("v"))
          .select(col("event_type"), col("hr"),
                  col("v").as("v_filled"),
                  coalesce(col("n_obs"), lit(0L)).as("n_obs"))
          .orderBy(col("event_type"), col("hr"))
      },
      """WITH h0 AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 10000 AS BIGINT)
        |      AS s4,
        |    COUNT(*) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |h AS (
        |  SELECT event_type, hr,
        |    CAST((2*s4 + n_obs) // (2*n_obs) AS DOUBLE) / 10000.0 AS v,
        |    n_obs
        |  FROM h0),
        |bounds AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM h),
        |spine AS (
        |  SELECT et.event_type, g.hr
        |  FROM (SELECT DISTINCT event_type FROM h) et
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    (SELECT lo FROM bounds), (SELECT hi FROM bounds))) AS hr) g),
        |f AS (
        |  SELECT s.event_type, s.hr, h.v, h.n_obs,
        |    COUNT(h.v) OVER (PARTITION BY s.event_type
        |                     ORDER BY s.hr) AS grp
        |  FROM spine s LEFT JOIN h
        |    ON s.event_type = h.event_type AND s.hr = h.hr)
        |SELECT event_type, hr,
        |  COALESCE(v, MAX(v) OVER (PARTITION BY event_type, grp)) + 0
        |    AS v_filled,
        |  COALESCE(n_obs, 0) AS n_obs
        |FROM f ORDER BY event_type, hr""".stripMargin),

    Q(
      // hourly grid with LINEAR INTERPOLATION — the fill-forward
      // complement for metrics that trend between observations: holes
      // lerp between the last and next observed hour,
      // v = pv + (nv−pv)·(hr−phr)/(nhr−phr), computed ENTIRELY in
      // 1e-4-integer units with mirrored half-up integral division —
      // no float accumulation, no engine-specific rounding. Boundary
      // holes (before the first / after the last observation) stay
      // NULL and are tagged 'edge' (a lerp needs both neighbours);
      // observed cells tag 'obs', interpolated 'lerp'. Scale shape:
      // the corpus reduces to the |types|×|hours| grid FIRST; both
      // neighbour attachments are two pipelined window taps over that
      // grid, sharing one (type, hr) sort.
      "q_ts_interpolate",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
                   expr("""(ts_us div 3600000000) -
                           (CASE WHEN ts_us % 3600000000 < 0
                            THEN 1 ELSE 0 END)""").as("hr"))
          .agg(avgExact4(sum(money("value")), count(lit(1))).as("v"))
          .withColumn("v4", round(col("v") * 10000).cast("long"))
        val bounds = hourly.agg(min(col("hr")).as("lo"),
                                max(col("hr")).as("hi"))
        val types = hourly.select(col("event_type")).distinct()
        val spine = types.crossJoin(broadcast(bounds))
          .select(col("event_type"),
                  explode(sequence(col("lo"), col("hi"))).as("hr"))
        val g = spine.join(hourly.select(col("event_type"), col("hr"),
                                         col("v4")),
                           Seq("event_type", "hr"), "left")
        val wPrev = Window.partitionBy(col("event_type"))
          .orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wNext = Window.partitionBy(col("event_type"))
          .orderBy(col("hr"))
          .rowsBetween(1, Window.unboundedFollowing)
        val lerp = g
          .withColumn("pv", last(col("v4"), ignoreNulls = true).over(wPrev))
          .withColumn("phr", last(when(col("v4").isNotNull, col("hr")),
                                  ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("v4"), ignoreNulls = true).over(wNext))
          .withColumn("nhr", first(when(col("v4").isNotNull, col("hr")),
                                   ignoreNulls = true).over(wNext))
          .withColumn("l4", expr(
            """pv + (CASE WHEN (nv - pv) * (hr - phr) >= 0
              |  THEN (2 * ((nv - pv) * (hr - phr)) + (nhr - phr))
              |       div (2 * (nhr - phr))
              |  ELSE -((2 * (-((nv - pv) * (hr - phr))) + (nhr - phr))
              |         div (2 * (nhr - phr))) END)""".stripMargin))
        lerp.select(col("event_type"), col("hr"),
            when(col("v4").isNotNull, col("v4").cast("double") / 10000.0)
              .otherwise(when(col("pv").isNotNull && col("nv").isNotNull,
                              col("l4").cast("double") / 10000.0))
              .as("v_interp"),
            when(col("v4").isNotNull, "obs")
              .otherwise(when(col("pv").isNotNull && col("nv").isNotNull,
                              "lerp").otherwise("edge")).as("src"))
          .orderBy(col("event_type"), col("hr"))
      },
      """WITH h0 AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 10000 AS BIGINT)
        |      AS s4,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |h AS (
        |  SELECT event_type, hr,
        |    CAST((2*s4 + n) // (2*n) AS BIGINT) AS v4
        |  FROM h0),
        |bounds AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM h),
        |spine AS (
        |  SELECT et.event_type, g.hr
        |  FROM (SELECT DISTINCT event_type FROM h) et
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    (SELECT lo FROM bounds), (SELECT hi FROM bounds))) AS hr) g),
        |j AS (
        |  SELECT s.event_type, s.hr, h.v4
        |  FROM spine s LEFT JOIN h
        |    ON s.event_type = h.event_type AND s.hr = h.hr),
        |w AS (
        |  SELECT event_type, hr, v4,
        |    last_value(v4 IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |    last_value(CASE WHEN v4 IS NOT NULL THEN hr END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS phr,
        |    first_value(v4 IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY hr
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v4 IS NOT NULL THEN hr END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY hr
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nhr
        |  FROM j),
        |l AS (
        |  SELECT *,
        |    pv + (CASE WHEN (nv - pv) * (hr - phr) >= 0
        |      THEN (2 * ((nv - pv) * (hr - phr)) + (nhr - phr))
        |           // (2 * (nhr - phr))
        |      ELSE -((2 * (-((nv - pv) * (hr - phr))) + (nhr - phr))
        |             // (2 * (nhr - phr))) END) AS l4
        |  FROM w)
        |SELECT event_type, hr,
        |  CASE WHEN v4 IS NOT NULL THEN CAST(v4 AS DOUBLE) / 10000.0
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL
        |       THEN CAST(l4 AS DOUBLE) / 10000.0
        |       ELSE NULL END + 0 AS v_interp,
        |  CASE WHEN v4 IS NOT NULL THEN 'obs'
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'lerp'
        |       ELSE 'edge' END AS src
        |FROM l ORDER BY event_type, hr""".stripMargin),

    Q(
      // gaps-and-islands: each user's LONGEST run of consecutive active
      // days (and when it started) — the classic streak query. The
      // island key is day − row_number() over the user's distinct days
      // (constant within a run, jumps at a gap). Three hash-reduces on
      // user_id sharing ONE partitioning: distinct days → island sizes
      // → per-user max; the only window runs over DISTINCT DAYS (≤
      // days-in-range per user), never over raw events. Longest-with-
      // ties-to-earliest is a lexicographic struct max (len, −start) —
      // the q_ts_ohlc trick — not a second sort. Day id = FLOOR
      // division of epoch-µs (exact integer math, never a double):
      // Spark's `div` truncates toward zero while DuckDB's `//` floors,
      // so a bare `div` would put a pre-epoch timestamp on a different
      // day than the oracle (review r4 finding; the fixture is all
      // post-epoch, but the operator shouldn't rely on that) — same
      // rationale as intervalOverlapJoin's pmod bucketing.
      "q_events_streaks",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(col("user_id"),
                  expr("""(ts_us div 86400000000) -
                          (CASE WHEN ts_us % 86400000000 < 0
                           THEN 1 ELSE 0 END)""").as("day"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val isl = days
          .withColumn("grp", col("day") - row_number().over(w))
        val runs = isl.groupBy(col("user_id"), col("grp"))
          .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
        runs.groupBy(col("user_id"))
          .agg(max(struct(col("len"), (-col("start_day")).as("ns")))
                 .as("_b"),
               count(lit(1)).as("n_streaks"))
          .select(col("user_id"),
                  col("_b.len").as("streak_days"),
                  (-col("_b.ns")).as("start_day"),
                  col("n_streaks"))
          .orderBy(col("user_id"))
      },
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp
        |  FROM days),
        |runs AS (
        |  SELECT user_id, COUNT(*) AS len, MIN(day) AS start_day
        |  FROM isl GROUP BY user_id, grp),
        |best AS (
        |  SELECT user_id,
        |    MAX(struct_pack(l := len, ns := -start_day)) AS b,
        |    COUNT(*) AS n_streaks
        |  FROM runs GROUP BY user_id)
        |SELECT user_id, CAST(b.l AS BIGINT) AS streak_days,
        |  CAST(-b.ns AS BIGINT) AS start_day, n_streaks
        |FROM best ORDER BY user_id""".stripMargin),

    Q(
      // robust outliers via MAD (median absolute deviation): |v − med|
      // > 3·MAD per event type. The 2σ z-score of q_events_outliers is
      // itself dragged by the outliers it hunts; the median/MAD pair is
      // breakdown-resistant. Same broadcast-stats shape (5-row medians
      // join back broadcast; percentile is Spark's exact interpolated
      // sort-agg — the q_agg_percentile-proven cross-engine pair of
      // DuckDB's quantile_cont). All arithmetic on exact integer CENTS:
      // interpolated medians land on x.0/x.5 and deviations on x.0/x.5
      // — exactly representable doubles, so both engines compare
      // identical values, and dev·10 re-enters integers for output.
      "q_events_mad",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
                  (money("value") * 100).cast("long").as("vc"))
        val med = e.groupBy(col("event_type"))
          .agg(percentile(col("vc"), lit(0.5)).as("med"))
          .select(col("event_type").as("t1"), col("med"))
        val dev = e.join(broadcast(med), col("event_type") === col("t1"))
          .withColumn("dev", abs(col("vc") - col("med")))
        val mad = dev.groupBy(col("event_type"), col("med"))
          .agg(percentile(col("dev"), lit(0.5)).as("mad"))
          .select(col("event_type").as("t2"), col("med").as("med2"),
                  col("mad"))
        e.join(broadcast(mad), col("event_type") === col("t2"))
          .filter(abs(col("vc") - col("med2")) > lit(3) * col("mad"))
          .select(col("event_type"), col("event_id"),
                  (col("vc").cast("double") / 100.0).as("v"),
                  (abs(col("vc") - col("med2")) * 10).cast("long")
                    .as("dev_tenths"),
                  when(col("vc") > col("med2"), "hi").otherwise("lo")
                    .as("side"))
          .orderBy(col("event_type"), col("event_id"))
      },
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |med AS (
        |  SELECT event_type, quantile_cont(vc, 0.5) AS med
        |  FROM e GROUP BY event_type),
        |mad AS (
        |  SELECT e.event_type, med,
        |    quantile_cont(abs(vc - med), 0.5) AS mad
        |  FROM e JOIN med USING (event_type)
        |  GROUP BY e.event_type, med)
        |SELECT e.event_type, event_id,
        |  CAST(vc AS DOUBLE) / 100.0 AS v,
        |  CAST(abs(vc - med) * 10 AS BIGINT) AS dev_tenths,
        |  CASE WHEN vc > med THEN 'hi' ELSE 'lo' END AS side
        |FROM e JOIN mad USING (event_type)
        |WHERE abs(vc - med) > 3 * mad
        |ORDER BY event_type, event_id""".stripMargin),

    Q(
      // Welch's two-sample t between 'click' and 'view' event values —
      // the A/B-experimentation primitive (unequal variances, no
      // pooled-σ assumption). Same exact-integer discipline as
      // q_events_outliers: values to cents, per-group MIN anchors them,
      // Σd / Σd² accumulate as DECIMAL(38,0) (HUGEINT twin) —
      // partition-order-proof; means/variances/t are ONE fixed-shape
      // double expression over those exact sums, identical on both
      // engines, r4. Scale shape: one tiny anchor pass + one
      // conditional-agg scan; output is a single row.
      "q_events_ab_ttest",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val anchors = e.groupBy(col("event_type"))
          .agg(min(col("vc")).as("a"))
          .select(col("event_type").as("t1"), col("a"))
        val dd = (col("vc") - col("a")).cast(D38)
        val st = e.join(broadcast(anchors), col("event_type") === col("t1"))
          .groupBy(col("event_type"), col("a"))
          .agg(sum(dd).cast("double").as("sv"),
               sum(dd * dd).cast("double").as("s2"),
               count(lit(1)).as("n"))
          .select(col("event_type"), col("n"),
                  (col("a").cast("double") + col("sv") / col("n"))
                    .as("mc"),
                  greatest((col("s2") - col("sv") * col("sv") / col("n")) /
                           (col("n") - 1), lit(0.0)).as("vc2"))
        val g1 = st.filter(col("event_type") === "click")
          .select(col("n").as("n_click"), col("mc").as("m1"),
                  col("vc2").as("v1"))
        val g2 = st.filter(col("event_type") === "view")
          .select(col("n").as("n_view"), col("mc").as("m2"),
                  col("vc2").as("v2"))
        g1.crossJoin(g2)
          .select(col("n_click"), col("n_view"),
                  round(col("m1") / 100.0, 4).as("mean_click"),
                  round(col("m2") / 100.0, 4).as("mean_view"),
                  round((col("m1") - col("m2")) /
                        sqrt(col("v1") / col("n_click") +
                             col("v2") / col("n_view")), 4).as("t_stat"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE event_type IN ('click', 'view')),
        |an AS (SELECT event_type, MIN(vc) AS a FROM e GROUP BY event_type),
        |st AS (
        |  SELECT e.event_type, COUNT(*) AS n,
        |    CAST(a AS DOUBLE)
        |      + CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE) / COUNT(*)
        |      AS mc,
        |    greatest(
        |      (CAST(SUM(CAST(vc - a AS HUGEINT) * CAST(vc - a AS HUGEINT))
        |            AS DOUBLE)
        |       - CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE)
        |         * CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE) / COUNT(*))
        |      / (COUNT(*) - 1), 0.0) AS vc2
        |  FROM e JOIN an USING (event_type) GROUP BY e.event_type, a),
        |g1 AS (SELECT n AS n_click, mc AS m1, vc2 AS v1 FROM st
        |       WHERE event_type = 'click'),
        |g2 AS (SELECT n AS n_view, mc AS m2, vc2 AS v2 FROM st
        |       WHERE event_type = 'view')
        |SELECT n_click, n_view,
        |  round(m1 / 100.0, 4) + 0 AS mean_click,
        |  round(m2 / 100.0, 4) + 0 AS mean_view,
        |  round((m1 - m2) / sqrt(v1 / n_click + v2 / n_view), 4) + 0
        |    AS t_stat
        |FROM g1 CROSS JOIN g2""".stripMargin),

    Q(
      // Mann–Whitney U between 'click' and 'view' values — the
      // rank-based nonparametric twin of q_events_ab_ttest (no
      // normality assumption; robust to the heavy tails money values
      // actually have). INTEGER-EXACT throughout: ranks live in 2×
      // units so tie-averaged ranks stay integral (r×2 = 2·cum_before
      // + tie_size + 1), the rank sum / U statistic are exact longs,
      // and the normal approximation INCLUDES the exact tie
      // correction T = Σ(t³−t) — z is one fixed-shape double
      // expression over five exact integers. Scale shape: the corpus
      // reduces to per-distinct-CENT counts first; every window runs
      // over that values frame, whose size is bounded by the cent
      // DOMAIN (≤ ~50k rows) — constant in SF, not corpus-sized.
      "q_events_mannwhitney",
      (s, d) => {
        val e = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val byVal = e.groupBy(col("vc"))
          .agg(sum(when(col("event_type") === "click", 1L)
                 .otherwise(0L)).as("nc"),
               sum(when(col("event_type") === "view", 1L)
                 .otherwise(0L)).as("nv"))
          .withColumn("nt", col("nc") + col("nv"))
        // distributed rank map (r8): the distinct-cents frame grows
        // with the corpus on diverse data (diversity-sweep finding),
        // so the 2×-rank encoding rides the range-partitioned prefix
        // sum instead of a single-task ordered window:
        // 2·cum_before + nt + 1 ≡ 2·cum_incl − nt + 1
        val ranked = distCumSums(byVal, "vc", Seq("nt"))
          .withColumn("r2", lit(2) * col("cum_nt") - col("nt") + 1)
        ranked.agg(
            sum(col("nc")).as("n_click"),
            sum(col("nv")).as("n_view"),
            sum(col("nc") * col("r2")).as("_r1x2"),
            sum(col("nt") * col("nt") * col("nt") - col("nt")).as("_t3"))
          .select(col("n_click"), col("n_view"),
                  (col("_r1x2") - col("n_click") * (col("n_click") + 1))
                    .as("u_click_x2"), col("_t3"))
          .select(col("n_click"), col("n_view"), col("u_click_x2"),
                  round(
                    (col("u_click_x2").cast("double") / 2.0 -
                     col("n_click").cast("double") * col("n_view") / 2.0) /
                    sqrt(col("n_click").cast("double") * col("n_view") / 12.0 *
                         ((col("n_click") + col("n_view") + 1).cast("double") -
                          col("_t3").cast("double") /
                          ((col("n_click") + col("n_view")).cast("double") *
                           (col("n_click") + col("n_view") - 1)))),
                    4).as("z_stat"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE event_type IN ('click', 'view')),
        |bv AS (
        |  SELECT vc,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nv
        |  FROM e GROUP BY vc),
        |r AS (
        |  SELECT vc, nc, nv, nc + nv AS nt,
        |    2 * COALESCE(SUM(nc + nv) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (nc + nv) + 1 AS r2
        |  FROM bv),
        |a AS (
        |  SELECT CAST(SUM(nc) AS BIGINT) AS n_click,
        |    CAST(SUM(nv) AS BIGINT) AS n_view,
        |    CAST(SUM(nc * r2) AS BIGINT) AS r1x2,
        |    CAST(SUM(nt * nt * nt - nt) AS BIGINT) AS t3
        |  FROM r)
        |SELECT n_click, n_view,
        |  r1x2 - n_click * (n_click + 1) AS u_click_x2,
        |  round(
        |    (CAST(r1x2 - n_click * (n_click + 1) AS DOUBLE) / 2.0
        |     - CAST(n_click AS DOUBLE) * n_view / 2.0)
        |    / sqrt(CAST(n_click AS DOUBLE) * n_view / 12.0
        |           * (CAST(n_click + n_view + 1 AS DOUBLE)
        |              - CAST(t3 AS DOUBLE)
        |                / (CAST(n_click + n_view AS DOUBLE)
        |                   * (n_click + n_view - 1)))),
        |    4) + 0 AS z_stat
        |FROM a""".stripMargin),

    Q(
      // two-sample Kolmogorov–Smirnov D between click/view value
      // distributions — completes the stats trio (parametric t,
      // rank-sum U, distribution-shape D): D = max |F̂₁ − F̂₂| over the
      // merged support, computed on CROSS-MULTIPLIED cumulative counts
      // (|cum₁·n₂ − cum₂·n₁| as DECIMAL(38,0), exact past any long
      // bound) so no float CDF ever exists; D itself emerges once via
      // wide half-up integral division (intRatio4Wide) at scale 4.
      // Scale shape: same per-distinct-cent values frame as
      // mannwhitney — bounded by the cent domain, constant in SF.
      "q_events_ks",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val byVal = e.groupBy(col("vc"))
          .agg(sum(when(col("event_type") === "click", 1L)
                 .otherwise(0L)).as("nc"),
               sum(when(col("event_type") === "view", 1L)
                 .otherwise(0L)).as("nv"))
        // distributed CDFs (r8): both cumulative counts AND the grand
        // totals come from the range-partitioned two-pass prefix sum
        // (totals derive from its ≤64-row per-partition offsets frame
        // — still no second corpus scan); the distinct-cents frame
        // grows with the corpus on diverse data, so no single-task
        // ordered window and no fixed cap
        val cum = distCumSums(byVal, "vc", Seq("nc", "nv"))
          .withColumn("c1", col("cum_nc")).withColumn("c2", col("cum_nv"))
          .withColumn("n1", col("tot_nc")).withColumn("n2", col("tot_nv"))
        val dnum = abs(col("c1").cast(D38) * col("n2").cast(D38) -
                       col("c2").cast(D38) * col("n1").cast(D38))
        cum.groupBy(col("n1"), col("n2"))
          .agg(max(dnum).as("dnum"))
          .select(col("n1").as("n_click"), col("n2").as("n_view"),
                  intRatio4Wide(
                    (col("dnum") * 10000).cast(D38),
                    (col("n1").cast(D38) * col("n2").cast(D38))
                      .cast(D38)).as("d_ks"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE event_type IN ('click', 'view')),
        |bv AS (
        |  SELECT vc,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nv
        |  FROM e GROUP BY vc),
        |c AS (
        |  SELECT
        |    SUM(nc) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
        |    SUM(nv) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
        |    SUM(nc) OVER () AS n1, SUM(nv) OVER () AS n2
        |  FROM bv),
        |a AS (
        |  SELECT CAST(MAX(n1) AS BIGINT) AS n1,
        |    CAST(MAX(n2) AS BIGINT) AS n2,
        |    MAX(ABS(CAST(c1 AS HUGEINT) * n2
        |            - CAST(c2 AS HUGEINT) * n1)) AS dnum
        |  FROM c)
        |SELECT n1 AS n_click, n2 AS n_view,
        |  CAST((2 * CAST(dnum AS HUGEINT) * 10000
        |        + CAST(n1 AS HUGEINT) * n2)
        |       // (2 * CAST(n1 AS HUGEINT) * n2) AS DOUBLE)
        |    / 10000.0 AS d_ks
        |FROM a""".stripMargin),

    Q(
      // CUSUM changepoint per event type: S_i = Σ_{j≤i}(x_j − x̄) over
      // the (ts, event_id) order, reported at its |S| maximum — the
      // classic level-shift detector (where did the metric's mean
      // move?). Scaled by n to stay integral: n·S_i = n·prefix_i −
      // i·total, every term DECIMAL(38,0) (HUGEINT twin), so the
      // argmax and the statistic are exact at any SF — a float CUSUM's
      // prefix sums would drift with partition order. The argmax
      // tie-breaks to the EARLIEST position (min-struct on (−|S|, i)),
      // and the dollar-scale |S|max/n emerges once through wide
      // half-up integral division. Scale shape: one exchange on
      // event_type (window + hash-agg share it) plus a broadcast of
      // the per-type totals — the same one-pass shape as q_events_mad.
      "q_events_cusum",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("ts_us"),
                  (money("value") * 100).cast("long").as("vc"))
        val tot = e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(col("vc").cast(D38)).as("tot"))
          .select(col("event_type").as("t1"), col("n"), col("tot"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val p = e
          .withColumn("pre", sum(col("vc").cast(D38))
            .over(w.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)))
          .withColumn("pos", row_number().over(w).cast("long"))
          .join(broadcast(tot), col("event_type") === col("t1"))
        val sv = (col("n").cast(D38) * col("pre") -
                  col("pos").cast(D38) * col("tot")).cast(D38)
        p.select(col("event_type"), col("n"), col("pos"),
                 col("ts_us"), sv.as("sv"))
          .groupBy(col("event_type"), col("n"))
          .agg(min(struct((-abs(col("sv"))).as("na"),
                          col("pos").as("pos"),
                          col("sv").as("sv"),
                          col("ts_us").as("ts"))).as("b"))
          .select(col("event_type"), col("n"),
                  col("b.pos").as("cp_pos"),
                  col("b.ts").as("cp_ts_us"),
                  // |S|max/(100·n) dollars at scale 4: num/den must be
                  // the result in 1e-4 units → num = |S|·100, den = n
                  intRatio4Wide((abs(col("b.sv")) * 100).cast(D38),
                                col("n")).as("cusum_abs"),
                  when(col("b.sv") > 0, lit("hi")).otherwise(lit("lo"))
                    .as("side"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |t AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(vc AS HUGEINT)) AS tot
        |  FROM e GROUP BY event_type),
        |p AS (
        |  SELECT event_type, ts_us,
        |    SUM(CAST(vc AS HUGEINT)) OVER (PARTITION BY event_type
        |      ORDER BY ts_us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS pre,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts_us ASC, event_id ASC) AS BIGINT) AS pos
        |  FROM e),
        |sv AS (
        |  SELECT p.event_type, t.n, p.pos, p.ts_us,
        |    CAST(t.n AS HUGEINT) * p.pre - CAST(p.pos AS HUGEINT) * t.tot
        |      AS sv
        |  FROM p JOIN t USING (event_type)),
        |m AS (
        |  SELECT event_type, n,
        |    min(struct_pack(na := -abs(sv), pos := pos, sv := sv,
        |                    ts := ts_us)) AS b
        |  FROM sv GROUP BY event_type, n)
        |SELECT event_type, n, (b).pos AS cp_pos, (b).ts AS cp_ts_us,
        |  CAST((2 * abs((b).sv) * 100 + CAST(n AS HUGEINT))
        |       // (2 * CAST(n AS HUGEINT)) AS DOUBLE) / 10000.0
        |    AS cusum_abs,
        |  CASE WHEN (b).sv > 0 THEN 'hi' ELSE 'lo' END AS side
        |FROM m ORDER BY event_type""".stripMargin),

    Q(
      // top-10 session paths: the first 4 events of every 8-hour-gap
      // session (the same sessionizer as q_events_sessionize, so the
      // session definition cannot drift), concatenated in (ts,
      // event_id) order and counted corpus-wide — the clickstream
      // pathing report behind every "how do users actually move
      // through the product" question. Rank (count DESC, path ASC) is
      // total, so the LIMIT 10 is deterministic; the truncated path
      // string is the ONLY thing the final tiny agg shuffles, and the
      // ordered concat rides the house sorted-collect idiom
      // (array_sort over (rn, type) structs — partition-order-proof),
      // never a non-deterministic collect_list order.
      "q_events_paths",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us"),
                  col("event_type"))
        val sess = graft.api.Events.sessionize(
          e, key = col("user_id"), timeUs = col("ts_us"),
          tieBreak = Seq(col("event_id")), gapUs = 28800000000L)
        val w = Window.partitionBy(col("user_id"), col("sess"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val firstK = sess.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 4)
        firstK.groupBy(col("user_id"), col("sess"))
          .agg(array_join(
                 transform(
                   array_sort(collect_list(
                     struct(col("rn"), col("event_type")))),
                   x => x.getField("event_type")),
                 ">").as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n_sess"),
               countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("n_sess").desc, col("path").asc)
          .limit(10)
      },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |n AS (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 28800000000 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY ts_us ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts_us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM n),
        |r AS (
        |  SELECT user_id, sess, event_type,
        |    row_number() OVER (PARTITION BY user_id, sess
        |      ORDER BY ts_us ASC, event_id ASC) AS rn
        |  FROM s),
        |p AS (
        |  SELECT user_id, sess,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 4 GROUP BY user_id, sess)
        |SELECT path, COUNT(*) AS n_sess,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_sess DESC, path ASC LIMIT 10""".stripMargin),

    Q(
      // strictly-consecutive sequence pattern (MATCH_RECOGNIZE-lite):
      // view → click → purchase with NO intervening event, inside one
      // 8h-gap session (shared sessionizer again) — the CEP primitive
      // behind "did the user buy straight off the impression", stricter
      // than q_events_funnel's anytime-after semantics. Two leads over
      // the same (user, sess, ts, id) window (one sort serves both),
      // then a per-user count with first/last match times. Sessions
      // bound the leads, so a pattern can never straddle a session
      // break.
      "q_events_seq_pattern",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us"),
                  col("event_type"))
        val sess = graft.api.Events.sessionize(
          e, key = col("user_id"), timeUs = col("ts_us"),
          tieBreak = Seq(col("event_id")), gapUs = 28800000000L)
        val w = Window.partitionBy(col("user_id"), col("sess"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        sess
          .withColumn("n1", lead(col("event_type"), 1).over(w))
          .withColumn("n2", lead(col("event_type"), 2).over(w))
          .filter(col("event_type") === "view" &&
                  col("n1") === "click" && col("n2") === "purchase")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_matches"),
               min(col("ts_us")).as("first_us"),
               max(col("ts_us")).as("last_us"))
          .orderBy(col("user_id"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |n AS (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 28800000000 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY ts_us ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts_us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM n),
        |m AS (
        |  SELECT user_id, ts_us, event_type,
        |    lead(event_type, 1) OVER w2 AS n1,
        |    lead(event_type, 2) OVER w2 AS n2
        |  FROM s WINDOW w2 AS (PARTITION BY user_id, sess
        |                       ORDER BY ts_us ASC, event_id ASC))
        |SELECT user_id, COUNT(*) AS n_matches,
        |  MIN(ts_us) AS first_us, MAX(ts_us) AS last_us
        |FROM m
        |WHERE event_type = 'view' AND n1 = 'click' AND n2 = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    Q(
      // One-way ANOVA F across ALL event types — the k-group extension
      // of the Welch pair (is the value distribution the same across
      // every event type?). Unlike the t-test's per-group anchors, the
      // anchor is the GLOBAL min (between-group mean differences are
      // the signal here; per-group anchoring would erase them). Every
      // accumulation is exact: per-group n_g, S_g = Σ(vc−a),
      // SS4_g = Σd²·10⁴ in DECIMAL(38,0), and the mean-square terms
      // round at 1e-4 via halfUpDivWide — t_g = round(S_g²·10⁴/n_g) is
      // an exact INTEGER per group, so the cross-group sums are
      // associative and partition-order free (never a double running
      // sum). SSB/SSW then assemble by integer subtraction (clamped at
      // 0: t_g's ±0.5e-4 rounding can leave a −1e-4 residue on a
      // zero-variance split) and F is ONE fixed-shape double ratio of
      // two exact integers, r4 — identical on both engines. Exactness
      // bound: quotients stay in int64 while S_g²·10⁴/n_g < 2⁶³
      // (≈ $10¹³ of summed centered cents per group at fixture-like
      // group sizes); past that the t_g seam widens to a decimal
      // quotient. Scale: one anchor pass + one hash-agg scan; 5 rows
      // cross the driver.
      "q_events_anova",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val ga = e.agg(min(col("vc")).as("a"))
        val dd = (col("vc") - col("a")).cast(D38)
        val grp = e.crossJoin(broadcast(ga))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("ng"),
               sum(col("vc") - col("a")).as("sg"),
               (sum(dd * dd) * 10000).cast(D38).as("ss4"))
          .select(col("ng"), col("sg"), col("ss4"),
                  halfUpDivWideDec(col("sg").cast(D38) * col("sg") * 10000,
                                   col("ng")).as("tg"))
        grp.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
                sum(col("sg")).as("st"), sum(col("ss4")).as("sss4"),
                sum(col("tg")).as("sumt"))
          .select(col("k"), col("n"), col("st"), col("sss4"),
                  col("sumt"),
                  halfUpDivWideDec(col("st").cast(D38) * col("st") * 10000,
                                   col("n")).as("tall"))
          .select(col("k").as("n_groups"), col("n"),
                  greatest(col("sumt") - col("tall"), lit(0L))
                    .cast(D38).as("ssb4"),
                  greatest(col("sss4") - col("sumt").cast(D38),
                           lit(0L).cast(D38)).as("ssw4"))
          .select(col("n_groups"), col("n"),
                  (col("ssb4").cast("double") / 10000.0).as("ssb"),
                  (col("ssw4").cast("double") / 10000.0).as("ssw"),
                  round((col("ssb4").cast("double") *
                         (col("n") - col("n_groups")).cast("double")) /
                        (col("ssw4").cast("double") *
                         (col("n_groups") - 1).cast("double")), 4)
                    .as("f_stat"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |ga AS (SELECT MIN(vc) AS a FROM e),
        |grp AS (
        |  SELECT event_type, COUNT(*) AS ng,
        |    CAST(SUM(vc - a) AS HUGEINT) AS sg,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a)) * 10000
        |      AS HUGEINT) AS ss4
        |  FROM e, ga GROUP BY event_type),
        |grpt AS (
        |  SELECT ng, sg, ss4,
        |    (2 * (sg * sg * 10000) + CAST(ng AS HUGEINT))
        |      // (2 * CAST(ng AS HUGEINT)) AS tg
        |  FROM grp),
        |g AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(sg) AS HUGEINT) AS st,
        |    CAST(SUM(ss4) AS HUGEINT) AS sss4,
        |    CAST(SUM(tg) AS HUGEINT) AS sumt
        |  FROM grpt),
        |g2 AS (
        |  SELECT k, n, sss4, sumt,
        |    (2 * (st * st * 10000) + CAST(n AS HUGEINT))
        |      // (2 * CAST(n AS HUGEINT)) AS tall
        |  FROM g),
        |g3 AS (
        |  SELECT k AS n_groups, n,
        |    greatest(sumt - tall, 0) AS ssb4,
        |    greatest(sss4 - sumt, 0) AS ssw4
        |  FROM g2)
        |SELECT n_groups, n,
        |  CAST(ssb4 AS DOUBLE) / 10000.0 AS ssb,
        |  CAST(ssw4 AS DOUBLE) / 10000.0 AS ssw,
        |  round((CAST(ssb4 AS DOUBLE) * CAST(n - n_groups AS DOUBLE)) /
        |        (CAST(ssw4 AS DOUBLE) * CAST(n_groups - 1 AS DOUBLE)),
        |        4) + 0 AS f_stat
        |FROM g3""".stripMargin),

    Q(
      // Kruskal–Wallis H across ALL event types — the nonparametric
      // k-group twin of q_events_anova (rank-based, no normality
      // assumption), extending Mann–Whitney's 2×-rank machinery to k
      // groups. The corpus reduces to per-distinct-CENT (value, type)
      // counts; midranks ride the same r2 = 2·cum+nt+1 encoding (twice
      // the midrank — always an integer), so per-group rank sums
      // R2_g = Σ cnt·r2 are exact longs and Σ R_g²/n_g lands on the
      // 1e-4 grid via halfUpDivWide(R2_g²·10⁴, 4·n_g) — an exact
      // integer per group, summed associatively. The tie correction
      // T = Σ(nt³−nt) is exact off the same per-value frame. H is ONE
      // fixed-shape double expression over five exact integers, r4.
      // Exact while R2_g²·10⁴ < 10³⁸ (N ≲ 10⁸ rows; beyond, the rank
      // encoding itself outgrows int64 and needs a decimal seam).
      // Scale: the window runs on the cent-DOMAIN frame (≤ ~50k rows,
      // constant in SF), not the corpus.
      "q_events_kruskal",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val bvt = e.groupBy(col("vc"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val bv = boundedDomain(
          bvt.groupBy(col("vc")).agg(sum(col("cnt")).as("nt")),
          "q_events_kruskal")
        val wCum = Window.orderBy(col("vc"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val r2f = bv
          .withColumn("cum", coalesce(sum(col("nt")).over(wCum), lit(0L)))
          .select(col("vc").as("_v2"), col("nt"),
                  (lit(2) * col("cum") + col("nt") + 1).as("r2"))
        val grp = bvt.join(r2f, col("vc") === col("_v2"))
          .groupBy(col("event_type"))
          .agg(sum(col("cnt")).as("ng"),
               sum(col("cnt") * col("r2")).as("rg2"))
          .select(col("ng"),
                  halfUpDivWideDec(col("rg2").cast(D38) * col("rg2") * 10000,
                                   col("ng") * 4).as("tg"))
        val ties = bv.agg(
          sum(col("nt") * col("nt") * col("nt") - col("nt")).as("t_ties"))
        grp.agg(count(lit(1)).as("n_groups"), sum(col("ng")).as("n"),
                sum(col("tg")).as("s4"))
          .crossJoin(ties)
          .select(col("n"), col("n_groups"), col("t_ties"),
                  round((lit(12.0) *
                          (col("s4").cast("double") / 10000.0) /
                          (col("n").cast("double") *
                           (col("n") + 1).cast("double")) -
                         lit(3.0) * (col("n") + 1).cast("double")) /
                        (lit(1.0) - col("t_ties").cast("double") /
                          (col("n").cast("double") *
                           col("n").cast("double") *
                           col("n").cast("double") -
                           col("n").cast("double"))), 4).as("h_stat"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |bvt AS (
        |  SELECT vc, event_type, COUNT(*) AS cnt
        |  FROM e GROUP BY vc, event_type),
        |bv AS (
        |  SELECT vc, CAST(SUM(cnt) AS BIGINT) AS nt
        |  FROM bvt GROUP BY vc),
        |r2f AS (
        |  SELECT vc, nt,
        |    2 * COALESCE(SUM(nt) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + nt + 1 AS r2
        |  FROM bv),
        |grp AS (
        |  SELECT b.event_type, CAST(SUM(b.cnt) AS BIGINT) AS ng,
        |    CAST(SUM(b.cnt * r.r2) AS BIGINT) AS rg2
        |  FROM bvt b JOIN r2f r ON b.vc = r.vc
        |  GROUP BY b.event_type),
        |grpt AS (
        |  SELECT ng,
        |    (2 * (CAST(rg2 AS HUGEINT) * rg2 * 10000)
        |       + CAST(ng * 4 AS HUGEINT))
        |      // (2 * CAST(ng * 4 AS HUGEINT)) AS tg
        |  FROM grp),
        |ties AS (
        |  SELECT CAST(SUM(nt * nt * nt - nt) AS BIGINT) AS t_ties
        |  FROM bv),
        |g AS (
        |  SELECT COUNT(*) AS n_groups, CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(tg) AS HUGEINT) AS s4
        |  FROM grpt)
        |SELECT g.n, g.n_groups, ties.t_ties,
        |  round((12.0 * (CAST(g.s4 AS DOUBLE) / 10000.0) /
        |           (CAST(g.n AS DOUBLE) * CAST(g.n + 1 AS DOUBLE)) -
        |         3.0 * CAST(g.n + 1 AS DOUBLE)) /
        |        (1.0 - CAST(ties.t_ties AS DOUBLE) /
        |          (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE) *
        |           CAST(g.n AS DOUBLE) - CAST(g.n AS DOUBLE))), 4) + 0
        |    AS h_stat
        |FROM g, ties""".stripMargin),

    Q(
      // Cohort LTV curve: users cohorted by first-active epoch-week,
      // per-cohort cumulative purchase revenue by weeks-since-first —
      // the "how much is a week-W cohort worth by age A" growth
      // curve that sits beside retention. Weeks are PURE integer
      // epoch arithmetic (ts_us div 86400e6 div 7 — no calendar
      // functions, so both engines bin identically and the binning
      // survives any session timezone). Revenue accumulates as exact
      // cents; the running total is a per-cohort window cumsum of
      // longs; ltv4 = cumulative cents / 100·n_users via intRatio4
      // (exact scale-4 dollars per user). Cohort sizes come from the
      // user-level first-touch agg (one row per user) — never a
      // distinct over the event stream per (cohort, age) cell.
      // Scale: two hash-aggs (user-level, cell-level) + a broadcast
      // cohort-size join; the window runs over the tiny cell frame.
      "q_events_cohort_ltv",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
                  ldiv(col("ts_us"), lit(86400000000L)).as("day"),
                  (money("value") * 100).cast("long").as("vc"))
        val first = e.groupBy(col("user_id"))
          .agg(min(col("day")).as("fd"))
          .select(col("user_id").as("_u"),
                  ldiv(col("fd"), lit(7L)).as("_cw"), col("fd"))
        val sizes = first.groupBy(col("_cw"))
          .agg(count(lit(1)).as("n_users"))
          .select(col("_cw").as("_cw2"), col("n_users"))
        val cells = e.filter(col("event_type") === "purchase")
          .join(first, col("user_id") === col("_u"))
          .groupBy(col("_cw").as("cohort_w"),
                   ldiv(col("day") - col("fd"), lit(7L)).as("age_w"))
          .agg(sum(col("vc")).as("rev_c"))
        val wCum = Window.partitionBy(col("cohort_w"))
          .orderBy(col("age_w"))
        cells
          .withColumn("cum_c", sum(col("rev_c")).over(wCum))
          .join(broadcast(sizes), col("cohort_w") === col("_cw2"))
          .select(col("cohort_w"), col("age_w"), col("n_users"),
                  (col("rev_c").cast("double") / 100.0).as("rev"),
                  (col("cum_c").cast("double") / 100.0).as("cum_rev"),
                  intRatio4(col("cum_c") * 100L, col("n_users"))
                    .as("ltv4"))
          .orderBy(col("cohort_w"), col("age_w"))
      },
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |first AS (
        |  SELECT user_id, MIN(day) // 7 AS cw, MIN(day) AS fd
        |  FROM e GROUP BY user_id),
        |sizes AS (
        |  SELECT cw, COUNT(*) AS n_users FROM first GROUP BY cw),
        |cells AS (
        |  SELECT f.cw AS cohort_w, (e.day - f.fd) // 7 AS age_w,
        |    CAST(SUM(e.vc) AS BIGINT) AS rev_c
        |  FROM e JOIN first f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY f.cw, (e.day - f.fd) // 7),
        |cum AS (
        |  SELECT cohort_w, age_w, rev_c,
        |    CAST(SUM(rev_c) OVER (PARTITION BY cohort_w ORDER BY age_w)
        |      AS BIGINT) AS cum_c
        |  FROM cells)
        |SELECT c.cohort_w, c.age_w, CAST(s.n_users AS BIGINT) AS n_users,
        |  CAST(c.rev_c AS DOUBLE) / 100.0 AS rev,
        |  CAST(c.cum_c AS DOUBLE) / 100.0 AS cum_rev,
        |  CAST((2*(c.cum_c*100) + s.n_users) // (2*s.n_users) AS DOUBLE)
        |    / 10000.0 AS ltv4
        |FROM cum c JOIN sizes s ON c.cohort_w = s.cw
        |ORDER BY c.cohort_w, c.age_w""".stripMargin),

    Q(
      // Time-to-convert distribution: for every user, the lag between
      // their FIRST view and the first purchase strictly after it;
      // discrete p50/p90/p99 of the lag in whole seconds plus the
      // conversion count — the funnel-latency metric next to the
      // step-conversion funnel. Two user-level hash-aggs (first-view,
      // then min qualifying purchase — the purchase scan re-joins on
      // user_id only); percentiles are DISCRETE (actual data values,
      // the proven percentile_disc/quantile_disc cross-engine pair)
      // over integer seconds, so no interpolation ever floats. Scale:
      // user-sized frames end-to-end; the final percentile runs on one
      // lag column.
      "q_events_conversion_lag",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_type"))
        val fv = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("mv"))
          .select(col("user_id").as("_u"), col("mv"))
        val lag = e.filter(col("event_type") === "purchase")
          .join(fv, col("user_id") === col("_u"))
          .filter(col("ts_us") > col("mv"))
          .groupBy(col("user_id"))
          .agg(min(col("ts_us")).as("pp"), min(col("mv")).as("mv2"))
          .select(ldiv(col("pp") - col("mv2"), lit(1000000L))
                    .as("lag_s"))
        lag.agg(
          count(lit(1)).as("n_converted"),
          // percentile_disc picks an ACTUAL lag_s value but returns
          // DOUBLE — the long cast is value-exact (and required: the
          // comparator is dtype-strict, quantile_disc stays BIGINT)
          expr("CAST(percentile_disc(0.5) WITHIN GROUP " +
               "(ORDER BY lag_s) AS BIGINT)").as("p50_s"),
          expr("CAST(percentile_disc(0.9) WITHIN GROUP " +
               "(ORDER BY lag_s) AS BIGINT)").as("p90_s"),
          expr("CAST(percentile_disc(0.99) WITHIN GROUP " +
               "(ORDER BY lag_s) AS BIGINT)").as("p99_s"),
          max(col("lag_s")).as("max_s"))
      },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS mv
        |  FROM e WHERE event_type = 'view' GROUP BY user_id),
        |lag AS (
        |  SELECT e.user_id,
        |    (MIN(e.ts_us) - MIN(fv.mv)) // 1000000 AS lag_s
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.mv
        |  GROUP BY e.user_id)
        |SELECT COUNT(*) AS n_converted,
        |  quantile_disc(lag_s, 0.5) AS p50_s,
        |  quantile_disc(lag_s, 0.9) AS p90_s,
        |  quantile_disc(lag_s, 0.99) AS p99_s,
        |  MAX(lag_s) AS max_s
        |FROM lag""".stripMargin),

    Q(
      // DAU/WAU stickiness — the engagement ratio product teams track
      // daily: distinct users today over distinct users in the trailing
      // 7 days, per day. Exact distincts via the bitmap-aggregation
      // reformulation (q_win_rolling_distinct's machinery on the user
      // axis): users become bits once, daily bitmaps OR-merge across
      // the 7-day window — the trailing distinct never rescans events,
      // and partials merge on any partitioning. Ratio half-up 1e-4.
      "q_events_stickiness",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(expr("ts_us div 86400000000").as("day"),
                  expr("bitmap_bucket_number(user_id)").as("bkt"),
                  expr("bitmap_bit_position(user_id)").as("pos"))
        val perDay = ev.groupBy(col("day"), col("bkt"))
          .agg(expr("bitmap_construct_agg(pos)").as("bm"))
        val dau = perDay
          .select(col("day"), expr("bitmap_count(bm)").as("c"))
          .groupBy(col("day")).agg(sum(col("c")).as("dau"))
        val days = perDay.select(col("day").as("wday")).distinct()
        val wau = perDay
          .withColumn("off", explode(sequence(lit(0L), lit(6L))))
          .withColumn("wday", col("day") + col("off"))
          .join(days, Seq("wday"), "left_semi")
          .groupBy(col("wday"), col("bkt"))
          .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
          .groupBy(col("wday")).agg(sum(col("c")).as("wau"))
        dau.join(wau, col("day") === col("wday"))
          .select(col("day"), col("dau"), col("wau"),
                  graft.Determinism.intRatio4(
                    col("dau") * 10000L, col("wau")).as("stickiness4"))
          .orderBy(col("day"))
      },
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM e),
        |dau AS (
        |  SELECT day, COUNT(DISTINCT user_id) AS dau
        |  FROM e GROUP BY day),
        |wau AS (
        |  SELECT d.day, COUNT(DISTINCT e.user_id) AS wau
        |  FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day)
        |SELECT dau.day AS day, dau.dau, wau.wau,
        |  CAST((2*(dau.dau*10000) + wau.wau) // (2*wau.wau) AS DOUBLE)
        |    / 10000.0 AS stickiness4
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY dau.day""".stripMargin),

    Q(
      // Kaplan-Meier time-to-conversion survival: S(t) = Π_{s≤t}
      // (1 − d_s/n_s) over days from a user's FIRST view to their
      // first qualifying purchase, users who never convert RIGHT-
      // CENSORED at the horizon — the survival-analysis estimator
      // (time-to-event with censoring, the statistically correct form
      // of q_events_conversion_lag's converted-only percentiles). In
      // the hash-gate discipline: d_t/n_t are exact integers (reverse-
      // cumsum at-risk counts over the ≤31-row lag DOMAIN), the
      // product runs as exp(Σ ln(1−d/n)) in a deterministic frame
      // order, Spark's ln(0)=NULL vs DuckDB's −inf divergence is
      // closed by an explicit everyone-converts flag (S pins to
      // exactly 0 from that t on), and r4 absorbs the per-term ulp.
      // Corpus → user frame → lag domain: two hash-aggs, windows only
      // on the domain.
      "q_events_survival",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_type"))
        val fv = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("mv"))
          .select(col("user_id").as("_u"), col("mv"))
        val fp = e.filter(col("event_type") === "purchase")
          .join(fv, col("user_id") === col("_u"))
          .filter(col("ts_us") > col("mv"))
          .groupBy(col("user_id"))
          .agg(min(col("ts_us")).as("pp"))
          .select(col("user_id").as("_p"), col("pp"))
        val hz = e.agg(max(col("ts_us")).as("h"))
        val ut = fv.join(fp, col("_u") === col("_p"), "left_outer")
          .crossJoin(broadcast(hz))
          .withColumn("conv", col("pp").isNotNull)
          .withColumn("t",
            when(col("conv"),
              expr("(pp - mv) div 86400000000"))
            .otherwise(expr("(h - mv) div 86400000000")))
        val byT = ut.groupBy(col("t"))
          .agg(count(lit(1)).as("nt"),
               sum(when(col("conv"), 1L).otherwise(0L)).as("dt"))
        val wDesc = Window.orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAsc = Window.orderBy(col("t").asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        byT.withColumn("n_risk", sum(col("nt")).over(wDesc))
          .withColumn("zf", max(when(col("dt") === col("n_risk"), 1L)
            .otherwise(0L)).over(wAsc))
          .withColumn("term",
            when(col("dt") > 0 && col("dt") < col("n_risk"),
              log((col("n_risk") - col("dt")).cast("double") /
                  col("n_risk").cast("double"))).otherwise(lit(0.0)))
          .withColumn("s4",
            when(col("zf") === 1, lit(0.0))
              .otherwise(r4(exp(sum(col("term")).over(wAsc)))))
          .select(col("t"), col("n_risk"), col("dt").as("n_converted"),
                  col("s4"))
          .orderBy(col("t"))
      },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |fv AS (
        |  SELECT user_id, MIN(ts_us) AS mv
        |  FROM e WHERE event_type = 'view' GROUP BY user_id),
        |fp AS (
        |  SELECT e.user_id, MIN(e.ts_us) AS pp
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > fv.mv
        |  GROUP BY e.user_id),
        |hz AS (SELECT MAX(ts_us) AS h FROM e),
        |ut AS (
        |  SELECT fv.user_id, (fp.pp IS NOT NULL) AS conv,
        |    CASE WHEN fp.pp IS NOT NULL
        |      THEN (fp.pp - fv.mv) // 86400000000
        |      ELSE (hz.h - fv.mv) // 86400000000 END AS t
        |  FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id
        |  CROSS JOIN hz),
        |byt AS (
        |  SELECT t, COUNT(*) AS nt,
        |    CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dt
        |  FROM ut GROUP BY t),
        |r AS (
        |  SELECT t, nt, dt,
        |    CAST(SUM(nt) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_risk
        |  FROM byt),
        |z AS (
        |  SELECT t, dt, n_risk,
        |    MAX(CASE WHEN dt = n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS zf,
        |    CASE WHEN dt > 0 AND dt < n_risk THEN
        |      ln(CAST(n_risk - dt AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |    ELSE 0.0 END AS term
        |  FROM r)
        |SELECT t, n_risk, dt AS n_converted,
        |  CASE WHEN zf = 1 THEN 0.0
        |  ELSE round(exp(SUM(term) OVER (ORDER BY t ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) + 0
        |  END AS s4
        |FROM z ORDER BY t""".stripMargin),

    Q(
      // Difference-in-differences, run as the A/A VALIDATION every
      // experimentation platform ships: users hash-split 50/50 (md5
      // parity — the exact assignment device a real A/B test uses),
      // periods split 15 days after the corpus start, outcome = mean
      // purchase value per (group, period). DiD = (T_post − T_pre) −
      // (C_post − C_pre) — the causal-inference workhorse; on a null
      // assignment it must land near 0, and because the hash split is
      // deterministic the estimate is AUDITABLE (a data-dependent
      // cohort here empties cells at small SF — measured: sf0.001 has
      // zero late-signup users). All four means are exact half-up
      // 1e-4-unit INTEGERS (cent sums · 100 / counts), so the estimate
      // is integer arithmetic until one final /10⁴. One conditional
      // hash-agg over purchases.
      "q_events_did",
      (s, d) => {
        val e = Tables.events(s, d)
        val anchor = e.agg(min(expr("ts_us div 86400000000")).as("d0"))
        val p = e.filter(col("event_type") === "purchase")
          .crossJoin(broadcast(anchor))
          .select((pmod(graft.api.Pipeline.hash16(
                    col("user_id").cast("string")), lit(2)) === 0)
                    .as("tr"),
                  (expr("ts_us div 86400000000") >= col("d0") + 15)
                    .as("post"),
                  (money("value") * 100).cast("long").as("vc"))
        def m(tr: Boolean, post: Boolean) = halfUpDivWide(
          sum(when(col("tr") === tr && col("post") === post, col("vc"))
            .otherwise(0L)).cast(
              org.apache.spark.sql.types.DecimalType(38, 0)) * 100,
          sum(when(col("tr") === tr && col("post") === post, 1L)
            .otherwise(0L)))
        p.agg(m(true, false).as("t_pre"), m(true, true).as("t_post"),
              m(false, false).as("c_pre"), m(false, true).as("c_post"),
              count(lit(1)).as("n_purchases"))
          .select(col("n_purchases"),
                  (col("t_pre").cast("double") / 10000.0).as("t_pre4"),
                  (col("t_post").cast("double") / 10000.0).as("t_post4"),
                  (col("c_pre").cast("double") / 10000.0).as("c_pre4"),
                  (col("c_post").cast("double") / 10000.0).as("c_post4"),
                  (((col("t_post") - col("t_pre")) -
                    (col("c_post") - col("c_pre"))).cast("double")
                     / 10000.0).as("did4"))
      },
      s"""WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |anchor AS (SELECT MIN(ts_us // 86400000000) AS d0 FROM e),
        |p AS (
        |  SELECT
        |    ((${u16Sql("CAST(e.user_id AS VARCHAR)")}) % 2 = 0) AS t,
        |    (e.ts_us // 86400000000 >= anchor.d0 + 15) AS post,
        |    e.vc
        |  FROM e CROSS JOIN anchor
        |  WHERE e.event_type = 'purchase'),
        |m AS (
        |  SELECT COUNT(*) AS n_purchases,
        |    (2*(CAST(SUM(CASE WHEN t AND NOT post THEN vc ELSE 0 END)
        |          AS HUGEINT)*100)
        |     + SUM(CASE WHEN t AND NOT post THEN 1 ELSE 0 END))
        |    // (2*SUM(CASE WHEN t AND NOT post THEN 1 ELSE 0 END))
        |      AS t_pre,
        |    (2*(CAST(SUM(CASE WHEN t AND post THEN vc ELSE 0 END)
        |          AS HUGEINT)*100)
        |     + SUM(CASE WHEN t AND post THEN 1 ELSE 0 END))
        |    // (2*SUM(CASE WHEN t AND post THEN 1 ELSE 0 END))
        |      AS t_post,
        |    (2*(CAST(SUM(CASE WHEN NOT t AND NOT post THEN vc
        |          ELSE 0 END) AS HUGEINT)*100)
        |     + SUM(CASE WHEN NOT t AND NOT post THEN 1 ELSE 0 END))
        |    // (2*SUM(CASE WHEN NOT t AND NOT post THEN 1 ELSE 0 END))
        |      AS c_pre,
        |    (2*(CAST(SUM(CASE WHEN NOT t AND post THEN vc ELSE 0 END)
        |          AS HUGEINT)*100)
        |     + SUM(CASE WHEN NOT t AND post THEN 1 ELSE 0 END))
        |    // (2*SUM(CASE WHEN NOT t AND post THEN 1 ELSE 0 END))
        |      AS c_post
        |  FROM p)
        |SELECT CAST(n_purchases AS BIGINT) AS n_purchases,
        |  CAST(t_pre AS DOUBLE) / 10000.0 AS t_pre4,
        |  CAST(t_post AS DOUBLE) / 10000.0 AS t_post4,
        |  CAST(c_pre AS DOUBLE) / 10000.0 AS c_pre4,
        |  CAST(c_post AS DOUBLE) / 10000.0 AS c_post4,
        |  CAST((t_post - t_pre) - (c_post - c_pre) AS DOUBLE) / 10000.0
        |    AS did4
        |FROM m""".stripMargin),

    Q(
      // User CO-PRESENCE pairs: users whose sessions overlap in time,
      // with overlap counts — the coordination/collusion signal
      // (shared-device detection, bot-ring sweeps, "who browses
      // together") and the edge list a social graph starts from.
      // Sessions use the shared sessionizer at a 30-MINUTE gap —
      // co-presence means actually-concurrent activity; at the 8h
      // audit gap these users' sessions span weeks and the "graph"
      // degenerates to "both active this month" while the bucket
      // explode balloons (measured 22 s at sf0.1; 30-min sessions
      // make it sparse AND honest). Candidate pairs come from an
      // HOUR-BUCKET equi-join (a session meets only sessions sharing
      // a calendar hour — the banded-range-join discipline, never an
      // all-pairs interval join), overlap is confirmed in the join
      // stage, and each pair is emitted exactly once at the
      // overlap's first hour (canonical-bucket emit — no distinct).
      // Top-30 by (overlaps DESC, user_a, user_b) —
      // rank-deterministic.
      // Scale shape (the r5 verdict's worst scaler, rebuilt): pair
      // emission per hour-bucket is quadratic in bucket DENSITY, so
      // each bucket keeps only its 512 earliest-starting sessions
      // (deterministic rank by (s0, user_id, sess), mirrored in the
      // oracle) and the count of dropped (session × bucket) slots is
      // REPORTED in every output row (`n_capped_slots` — no silent
      // caps; 0 at the oracle SFs, binding at sf10 where density is
      // ~100× — bounding per-bucket work at 512²/2 pairs). The
      // top-30 runs on the bounded-heap `topk_pairs_by_long`
      // aggregate (map-side 30-slot partials; the exchange carries
      // ≤30 pairs per partition) instead of a single-partition
      // row_number window: (ua, ub) packs into one long — guarded by
      // assert_true(id < 2³¹), never silently wrong — whose
      // ascending order IS the (ua, ub) tie order, so ord =
      // n_overlaps reproduces (overlaps DESC, ua, ub) exactly.
      // Sessions are a per-user window; the bucket explode is
      // bounded by session span; candidates are equi-keyed per hour;
      // never O(users²), and per-bucket work is now O(cap²).
      "q_events_copresence",
      (s, d) => {
        graft.functions.TopKByLong.register(s)
        val sess = graft.api.Events.sessionize(
            Tables.events(s, d)
              .select(col("user_id"), col("event_id"), col("ts_us")),
            key = col("user_id"), timeUs = col("ts_us"),
            tieBreak = Seq(col("event_id")), gapUs = 1800000000L)
          .groupBy(col("user_id"), col("sess"))
          .agg(min(col("ts_us")).as("s0"), max(col("ts_us")).as("e0"))
        val hs0 = sess.select(col("user_id"), col("sess"), col("s0"),
            col("e0"),
            explode(expr(
              "sequence(s0 div 3600000000, e0 div 3600000000)"))
              .as("hb"))
        // density cap: per bucket, keep the 512 earliest-starting
        // sessions (ties by (user_id, sess) — total order, so the
        // DuckDB oracle reproduces the cap bit-for-bit). The window
        // partitions by hb — parallel across buckets, never global.
        val wcap = Window.partitionBy(col("hb"))
          .orderBy(col("s0"), col("user_id"), col("sess"))
        // r12 (guide §3.3): rked feeds the cap-count branch AND both
        // self-join sides — the sessionize+window pipeline re-planned
        // up to 4×. Materialize the (session × hour-bucket) frame once
        // per invocation (localCheckpoint — recomputed every
        // invocation, never CacheManager-cached).
        val rked = hs0.withColumn("_rkb", row_number().over(wcap))
          .localCheckpoint()
        val hs = rked.filter(col("_rkb") <= 512).drop("_rkb")
        val nCapped = rked.agg(
          count(when(col("_rkb") > 512, 1)).as("n_capped_slots"))
        val a = hs.select(col("user_id").as("ua"),
                          col("s0").as("as0"), col("e0").as("ae0"),
                          col("hb"))
        val b = hs.select(col("user_id").as("ub"),
                          col("s0").as("bs0"), col("e0").as("be0"),
                          col("hb").as("hb2"))
        // each overlapping pair is emitted EXACTLY once — at the
        // overlap's FIRST hour (hb = ⌊max(s0ₐ, s0ᵦ)/1h⌋) — instead of
        // once per shared hour + a distinct: 8h-gap sessions span
        // many hours at sf0.1, and the per-shared-hour duplicates
        // made the dedup shuffle the whole query (measured 22 s;
        // the canonical-bucket emit removes the distinct entirely)
        val pairs = a.join(b,
            col("hb") === col("hb2") && col("ua") < col("ub") &&
            col("as0") <= col("be0") && col("bs0") <= col("ae0") &&
            col("hb") === expr(
              "greatest(as0, bs0) div 3600000000"))
          .select(col("ua"), col("ub"))
        val cnt = pairs.groupBy(col("ua"), col("ub"))
          .agg(count(lit(1)).as("n_overlaps"))
        val top = cnt.agg(
          expr("topk_pairs_by_long(ua * 4294967296L + ub, " +
               "n_overlaps, 30)").as("_t"),
          max(col("ub")).as("_mx"))
        top.crossJoin(broadcast(nCapped))
          // assert_true yields NULL on success and throws otherwise:
          // the filter keeps the guard in the plan (an unreferenced
          // column would be pruned) and never drops a row
          .filter(isnull(expr(
            "assert_true(_mx is null or _mx < 2147483648L, " +
            "'copresence: user_id exceeds the 31-bit packable " +
            "domain; re-key users before packing pairs')")))
          .select(col("n_capped_slots"), posexplode(col("_t")))
          .select(shiftright(col("col.value"), 32).as("ua"),
                  (col("col.value") bitwiseAND lit(0xFFFFFFFFL))
                    .as("ub"),
                  col("col.ord").as("n_overlaps"),
                  (col("pos") + 1).cast("long").as("rn"),
                  col("n_capped_slots"))
          .orderBy(col("rn"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |n AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |         ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY ts_us ASC, event_id ASC)),
        |sx AS (
        |  SELECT user_id, ts_us,
        |    SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts_us ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM n),
        |sg AS (
        |  SELECT user_id, sess, MIN(ts_us) AS s0, MAX(ts_us) AS e0
        |  FROM sx GROUP BY user_id, sess),
        |hb0 AS (
        |  SELECT user_id, sess, s0, e0,
        |    unnest(range(s0 // 3600000000, e0 // 3600000000 + 1))
        |      AS hb
        |  FROM sg),
        |hbr AS (
        |  SELECT user_id, sess, s0, e0, hb,
        |    row_number() OVER (PARTITION BY hb
        |                       ORDER BY s0, user_id, sess) AS rkb
        |  FROM hb0),
        |hb AS (
        |  SELECT user_id, sess, s0, e0, hb FROM hbr WHERE rkb <= 512),
        |cap AS (
        |  SELECT CAST(COUNT(*) FILTER (WHERE rkb > 512) AS BIGINT)
        |    AS n_capped_slots
        |  FROM hbr),
        |p AS (
        |  SELECT a.user_id AS ua, b.user_id AS ub
        |  FROM hb a JOIN hb b
        |    ON a.hb = b.hb AND a.user_id < b.user_id
        |   AND a.s0 <= b.e0 AND b.s0 <= a.e0
        |   AND a.hb = greatest(a.s0, b.s0) // 3600000000),
        |c AS (
        |  SELECT ua, ub, COUNT(*) AS n_overlaps
        |  FROM p GROUP BY ua, ub),
        |r AS (
        |  SELECT ua, ub, n_overlaps,
        |    row_number() OVER (ORDER BY n_overlaps DESC, ua, ub)
        |      AS rn
        |  FROM c)
        |SELECT ua, ub, n_overlaps, rn, cap.n_capped_slots
        |FROM r CROSS JOIN cap WHERE rn <= 30
        |ORDER BY rn""".stripMargin),

    Q(
      // Traffic BURST episodes: hours whose arrival count exceeds the
      // trailing-24h Poisson expectation by 3σ, coalesced into
      // episodes — the incident/flash-crowd detector (a fixed
      // multiplier can't work across scales: relative variance
      // shrinks as 1/√n, so 1.5× flags 89 hours at sf0.001 and ZERO
      // at sf0.1; the Poisson mean+3√mean rule adapts and fires at
      // every SF). The test cross-multiplies to pure integers:
      // 24n > T ∧ (24n − T)² > 216·T with T the trailing-24h sum —
      // no float rate, no sqrt. Burst hours coalesce via the
      // hb − row_number island rule; per episode: span, hours, peak.
      // Scale shape: corpus → hour domain in one hash-agg; ROWS
      // windows + islands on that bounded frame.
      "q_events_bursts",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(expr("ts_us div 3600000000").as("hb"))
          .groupBy(col("hb")).agg(count(lit(1)).as("n"))
        val wt = Window.orderBy(col("hb")).rowsBetween(-24, -1)
        val wd = Window.orderBy(col("hb"))
        val dev = col("n") * 24 - col("tr")
        val bursts = hourly
          .withColumn("tr", sum(col("n")).over(wt))
          .withColumn("rn", row_number().over(wd))
          .filter(col("rn") >= 25 && dev > 0 &&
                  dev * dev > col("tr") * 216)
        val wi = Window.orderBy(col("hb"))
        bursts
          .withColumn("grp", col("hb") - row_number().over(wi))
          .groupBy(col("grp"))
          .agg(min(col("hb")).as("start_hb"), max(col("hb")).as("end_hb"),
               count(lit(1)).as("n_hours"), max(col("n")).as("peak_n"))
          .select(col("start_hb"), col("end_hb"), col("n_hours"),
                  col("peak_n"))
          .orderBy(col("start_hb"))
      },
      """WITH h AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hb, COUNT(*) AS n
        |  FROM events GROUP BY epoch_us(ts) // 3600000000),
        |t AS (
        |  SELECT hb, n,
        |    SUM(n) OVER (ORDER BY hb
        |                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |      AS tr,
        |    row_number() OVER (ORDER BY hb) AS rn
        |  FROM h),
        |b AS (
        |  SELECT hb, n FROM t
        |  WHERE rn >= 25 AND 24 * n > tr
        |    AND (24 * n - tr) * (24 * n - tr) > 216 * tr),
        |i AS (
        |  SELECT hb, n,
        |    hb - row_number() OVER (ORDER BY hb) AS grp
        |  FROM b)
        |SELECT MIN(hb) AS start_hb, MAX(hb) AS end_hb,
        |  COUNT(*) AS n_hours, CAST(MAX(n) AS BIGINT) AS peak_n
        |FROM i GROUP BY grp ORDER BY start_hb""".stripMargin),

    Q(
      // Customer CHURN rate per year — the flip side of
      // q_macro_repeat_rate's within-year loyalty: of the customers
      // active in year y, how many never order in y+1. One
      // (year, customer) distinct-activity frame, a self LEFT ANTI
      // check expressed as a left join on (custkey, yr+1) with a
      // null-flag sum — exact integer counts, half-up rate.
      // Scale shape: two hash-aggs + one equi-join on (cust, year)
      // keys; no windows.
      "q_events_churn_rate",
      (s, d) => {
        // r12 (guide §3.3): act feeds three branches (probe, shifted
        // copy, max-year) — materialize the (year, customer) activity
        // frame once per invocation
        val act = Tables.orders(s, d)
          .select(year(col("o_orderdate")).as("yr"), col("o_custkey"))
          .distinct()
          .localCheckpoint()
        val nxt = act.select((col("yr") - 1).as("py"),
                             col("o_custkey").as("ck"))
        val last = act.agg(max(col("yr")).as("_my"))
        act.join(nxt, col("yr") === col("py") &&
                      col("o_custkey") === col("ck"), "left")
          .crossJoin(broadcast(last))
          .filter(col("yr") < col("_my"))
          .groupBy(col("yr"))
          .agg(count(lit(1)).as("n_active"),
               sum(when(col("ck").isNull, 1L).otherwise(0L))
                 .as("n_churned"))
          .select(col("yr"), col("n_active"), col("n_churned"),
                  intRatio4(col("n_churned") * 10000L,
                            col("n_active")).as("churn_rate4"))
          .orderBy(col("yr"))
      },
      """WITH act AS (
        |  SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr,
        |    o_custkey
        |  FROM orders),
        |mx AS (SELECT MAX(yr) AS my FROM act),
        |j AS (
        |  SELECT a.yr, a.o_custkey, b.o_custkey AS ck
        |  FROM act a LEFT JOIN act b
        |    ON b.yr = a.yr + 1 AND b.o_custkey = a.o_custkey),
        |g AS (
        |  SELECT yr, COUNT(*) AS n_active,
        |    CAST(SUM(CASE WHEN ck IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_churned
        |  FROM j CROSS JOIN mx WHERE yr < my
        |  GROUP BY yr)
        |SELECT yr, n_active, n_churned,
        |  CAST((2 * (n_churned * 10000) + n_active)
        |       // (2 * n_active) AS DOUBLE) / 10000.0 AS churn_rate4
        |FROM g ORDER BY yr""".stripMargin),

    Q(
      // Customer RESURRECTION rate: of the customers who churned
      // after year y (active y, absent y+1), how many came back in
      // y+2 — the win-back number that tells a retention team whether
      // churn is death or dormancy, completing the
      // repeat/churn/resurrection triple on one shared activity
      // frame. Two shifted self-joins on (cust, year) keys, exact
      // counts, half-up rate; years above maxyr−2 are excluded so no
      // censored row fakes a 0% win-back.
      // Scale shape: one distinct-activity hash-agg + two equi-joins
      // on (cust, year); no windows.
      "q_events_resurrection",
      (s, d) => {
        // r12 (guide §3.3): act feeds four branches — materialize once
        val act = Tables.orders(s, d)
          .select(year(col("o_orderdate")).as("yr"), col("o_custkey"))
          .distinct()
          .localCheckpoint()
        val n1 = act.select((col("yr") - 1).as("p1"),
                            col("o_custkey").as("c1"))
        val n2 = act.select((col("yr") - 2).as("p2"),
                            col("o_custkey").as("c2"))
        val last = act.agg(max(col("yr")).as("_my"))
        act
          .join(n1, col("yr") === col("p1") &&
                    col("o_custkey") === col("c1"), "left")
          .join(n2, col("yr") === col("p2") &&
                    col("o_custkey") === col("c2"), "left")
          .crossJoin(broadcast(last))
          .filter(col("yr") <= col("_my") - 2 && col("c1").isNull)
          .groupBy(col("yr"))
          .agg(count(lit(1)).as("n_churned"),
               sum(when(col("c2").isNotNull, 1L).otherwise(0L))
                 .as("n_resurrected"))
          .select(col("yr"), col("n_churned"), col("n_resurrected"),
                  intRatio4(col("n_resurrected") * 10000L,
                            col("n_churned")).as("winback_rate4"))
          .orderBy(col("yr"))
      },
      """WITH act AS (
        |  SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS yr,
        |    o_custkey
        |  FROM orders),
        |mx AS (SELECT MAX(yr) AS my FROM act),
        |j AS (
        |  SELECT a.yr, a.o_custkey,
        |    b.o_custkey AS c1, c.o_custkey AS c2
        |  FROM act a
        |  LEFT JOIN act b ON b.yr = a.yr + 1
        |                 AND b.o_custkey = a.o_custkey
        |  LEFT JOIN act c ON c.yr = a.yr + 2
        |                 AND c.o_custkey = a.o_custkey),
        |g AS (
        |  SELECT yr, COUNT(*) AS n_churned,
        |    CAST(SUM(CASE WHEN c2 IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_resurrected
        |  FROM j CROSS JOIN mx
        |  WHERE yr <= my - 2 AND c1 IS NULL
        |  GROUP BY yr)
        |SELECT yr, n_churned, n_resurrected,
        |  CAST((2 * (n_resurrected * 10000) + n_churned)
        |       // (2 * n_churned) AS DOUBLE) / 10000.0
        |    AS winback_rate4
        |FROM g ORDER BY yr""".stripMargin)
  )
}
