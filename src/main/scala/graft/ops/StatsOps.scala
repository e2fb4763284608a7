package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.6 extension — the inferential-stats / distribution family
  * beyond the t/U/χ²/KS quartet: rank correlation, OLS regression,
  * weighted median, inter-arrival percentiles, cohort accumulation and
  * dispersion. Every query keeps all ACCUMULATION in exact integer /
  * DECIMAL(38,0) math (partition-order independent, HUGEINT-replayable
  * in DuckDB) and spends doubles only on the final, single-expression
  * statistic — the same determinism posture as EventOps' test trio.
  */
object StatsOps extends OpGroup {

  private val D38 = DecimalType(38, 0)

  /** 2×average-rank per distinct value: ties share the mean of their
    * rank block, doubled so it stays integral (the Mann-Whitney r2
    * encoding: 2·cum_before + cnt + 1). Ranks come from the
    * DISTRIBUTED prefix sum (r8): the old single-task
    * `Window.orderBy(v)` assumed the value domain is a bounded "price
    * book", but the diversity-mode scale sweep measured it GROWING
    * with the corpus (4.4M distinct price cents at 10× diverse data —
    * the 2²² boundedDomain guard fired); the two-pass range-
    * partitioned form scales with the domain and yields identical
    * ranks (2·cum_incl − cnt + 1 ≡ 2·cum_before + cnt + 1). */
  private def rank2Map(df: org.apache.spark.sql.DataFrame, v: String) = {
    val counts = df.groupBy(col(v)).agg(count(lit(1)).as("cnt"))
    distCumSums(counts, v, Seq("cnt"))
      .withColumn("r2", lit(2) * col("cum_cnt") - col("cnt") + 1)
      .select(col(v), col("r2"))
  }

  def qs: Seq[Q] = Seq(
    Q(
      // Spearman rank correlation between quantity and extended price.
      // Average ranks (tie blocks share their mean rank) are kept as
      // the INTEGER 2×rank, so every moment Σr, Σr², Σrxry accumulates
      // exactly in DECIMAL(38,0) (bounded by 4n³ < 10³⁸ to n ~ 10¹²)
      // and ρ emerges from one double expression both engines evaluate
      // identically. Scale shape: two distinct-value rank maps (window
      // over the COLLAPSED value domain, not the corpus) equi-joined
      // back to the pairs, then one hash-agg of six integer moments.
      "q_stats_spearman",
      (s, d) => {
        // r13 (guide §3.1/§3.3; r12 verdict #6): (a) base is
        // materialized once (it fed three branches — two rank maps +
        // the join — i.e. three parquet scans); (b) the quantity map
        // rx is explicitly broadcast (quantity cents are a bounded
        // physical domain — ≤ ~10⁴ values at every SF, and a
        // pathological domain fails loudly at the 8 GB broadcast cap,
        // never silently) — one corpus sort-merge join replaced by a
        // broadcast hash join. A third variant (collapse the corpus to
        // one row per yv before joining ry) measured 0.90× in the
        // interleaved A/B — at this SF price cents are nearly unique
        // per row, so the "collapse" added a corpus-sized decimal
        // hash-agg and removed nothing — and was reverted; the ry join
        // stays the sort-merge over the corpus (the rank-map side
        // remains domain-sized, never the build side of a broadcast).
        val base = Tables.lineitem(s, d)
          .select((money("l_quantity") * 100).cast("long").as("xv"),
                  (money("l_extendedprice") * 100).cast("long").as("yv"))
          .localCheckpoint()
        val rx = rank2Map(base, "xv").withColumnRenamed("r2", "r2x")
        val ry = rank2Map(base, "yv").withColumnRenamed("r2", "r2y")
        val j = base.join(broadcast(rx), "xv").join(ry, "yv")
        val m = j.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("r2x").cast(D38)).as("sx"),
          sum(col("r2y").cast(D38)).as("sy"),
          sum((col("r2x").cast(D38) * col("r2y").cast(D38)).cast(D38))
            .as("sxy"),
          sum((col("r2x").cast(D38) * col("r2x").cast(D38)).cast(D38))
            .as("sxx"),
          sum((col("r2y").cast(D38) * col("r2y").cast(D38)).cast(D38))
            .as("syy"))
        val nD = col("n").cast(D38)
        m.select(col("n").as("n_pairs"),
                 round((nD * col("sxy") - col("sx") * col("sy"))
                         .cast("double") /
                       sqrt((nD * col("sxx") - col("sx") * col("sx"))
                              .cast("double") *
                            (nD * col("syy") - col("sy") * col("sy"))
                              .cast("double")), 4).as("rho"))
      },
      """WITH base AS (
        |  SELECT
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xv,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS yv
        |  FROM lineitem),
        |rx AS (
        |  SELECT xv, 2 * COALESCE(SUM(cnt) OVER (ORDER BY xv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS r2x
        |  FROM (SELECT xv, COUNT(*) AS cnt FROM base GROUP BY xv)),
        |ry AS (
        |  SELECT yv, 2 * COALESCE(SUM(cnt) OVER (ORDER BY yv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + cnt + 1 AS r2y
        |  FROM (SELECT yv, COUNT(*) AS cnt FROM base GROUP BY yv)),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(r2x AS HUGEINT)) AS sx,
        |    SUM(CAST(r2y AS HUGEINT)) AS sy,
        |    SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy,
        |    SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
        |    SUM(CAST(r2y AS HUGEINT) * r2y) AS syy
        |  FROM base JOIN rx USING (xv) JOIN ry USING (yv))
        |SELECT n AS n_pairs,
        |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |               * CAST(CAST(n AS HUGEINT) * syy - sy * sy
        |                      AS DOUBLE)), 4) + 0 AS rho
        |FROM m""".stripMargin),

    Q(
      // Per-group OLS: extended price (cents) regressed on quantity,
      // per return flag. The four moments Σx, Σy, Σxy, Σx² accumulate
      // as DECIMAL(38,0) in ONE hash-agg (map-side partials); slope
      // and intercept are each a single double expression over the
      // exact moments — identical on both engines, no per-row floats,
      // no second pass. regr_slope/regr_intercept exist natively in
      // both engines but sum DOUBLES in partition order — unusable
      // under a hash gate; this shape is how a deterministic engine
      // should implement them.
      "q_stats_linreg",
      (s, d) => {
        val base = Tables.lineitem(s, d)
          .select(col("l_returnflag"),
                  floor(money("l_quantity")).cast("long").as("x"),
                  (money("l_extendedprice") * 100).cast("long").as("y"))
        val m = base.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).cast("long").as("n"),
               sum(col("x").cast(D38)).as("sx"),
               sum(col("y").cast(D38)).as("sy"),
               sum((col("x").cast(D38) * col("y").cast(D38)).cast(D38))
                 .as("sxy"),
               sum((col("x").cast(D38) * col("x").cast(D38)).cast(D38))
                 .as("sxx"))
        val nD = col("n").cast(D38)
        val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
        val den = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
        m.select(col("l_returnflag"), col("n"),
                 round(num / den, 4).as("slope_cents"),
                 round((col("sy").cast("double") -
                        (num / den) * col("sx").cast("double")) /
                       col("n").cast("double"), 4).as("icept_cents"))
          .orderBy(col("l_returnflag"))
      },
      """WITH base AS (
        |  SELECT l_returnflag,
        |    CAST(FLOOR(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT)
        |      AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM base GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE),
        |        4) + 0 AS slope_cents,
        |  round((CAST(sy AS DOUBLE)
        |         - (CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |            / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
        |           * CAST(sx AS DOUBLE))
        |        / CAST(n AS DOUBLE), 4) + 0 AS icept_cents
        |FROM m ORDER BY l_returnflag""".stripMargin),

    Q(
      // Exact weighted median: the price (cents) at which cumulative
      // QUANTITY weight first reaches half the group total, per return
      // flag. Pure integer comparison (2·cumw ≥ tot — no halves, no
      // floats), computed on the per-distinct-price collapsed frame:
      // the window runs over distinct prices WITHIN a 3-value flag
      // partition, after a hash-agg has collapsed the corpus — the
      // histogram_eqdepth counting-sort shape.
      "q_stats_wmedian",
      (s, d) => {
        val base = Tables.lineitem(s, d)
          .select(col("l_returnflag"),
                  (money("l_extendedprice") * 100).cast("long").as("vc"),
                  floor(money("l_quantity")).cast("long").as("wq"))
        val byVal = base.groupBy(col("l_returnflag"), col("vc"))
          .agg(sum(col("wq")).as("w"))
        val wCum = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("vc"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("l_returnflag"))
        byVal
          .withColumn("cumw", sum(col("w")).over(wCum))
          .withColumn("tot", sum(col("w")).over(wAll))
          .groupBy(col("l_returnflag"))
          .agg(min(when(col("cumw") * 2 >= col("tot"), col("vc")))
                 .as("wmedian_cents"),
               max(col("tot")).as("total_weight"))
          .orderBy(col("l_returnflag"))
      },
      """WITH base AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS vc,
        |    CAST(FLOOR(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT)
        |      AS wq
        |  FROM lineitem),
        |bv AS (
        |  SELECT l_returnflag, vc, CAST(SUM(wq) AS BIGINT) AS w
        |  FROM base GROUP BY l_returnflag, vc),
        |c AS (
        |  SELECT l_returnflag, vc,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM bv)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN cumw * 2 >= tot THEN vc END) AS wmedian_cents,
        |  CAST(MAX(tot) AS BIGINT) AS total_weight
        |FROM c GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    Q(
      // Inter-arrival percentiles: per event type, the p50/p90/p99 of
      // the gap (µs) between consecutive events under the total
      // (ts, event_id) order. Gaps are exact BIGINT µs, so
      // percentile_disc picks real data elements — discrete quantiles
      // are hash-stable where interpolated ones are not. One window
      // sort per type partition, then a hash-agg.
      "q_ts_gap_percentiles",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("ts_us"))
          .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
          .filter(col("gap").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_gaps"),
               expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap)")
                 .cast("long").as("p50_us"),
               expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY gap)")
                 .cast("long").as("p90_us"),
               expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY gap)")
                 .cast("long").as("p99_us"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |      PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  CAST(quantile_disc(gap, 0.5) AS BIGINT) AS p50_us,
        |  CAST(quantile_disc(gap, 0.9) AS BIGINT) AS p90_us,
        |  CAST(quantile_disc(gap, 0.99) AS BIGINT) AS p99_us
        |FROM e WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    Q(
      // Daily cohort accumulation: per day, active users, FIRST-SEEN
      // users and the running distinct-user total — the DAU/new-user
      // curve every growth dashboard draws, without ever running a
      // distinct over the full history per day: first-seen day is one
      // hash-agg over users, the cumulative total is a window over the
      // tiny day frame. All integers.
      "q_events_new_users",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(date_format(col("ts_utc"), "yyyy-MM-dd").as("day"),
                  col("user_id"))
        val daily = e.groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("n_active"),
               count(lit(1)).as("n_events"))
        val firsts = e.groupBy(col("user_id"))
          .agg(min(col("day")).as("fday"))
          .groupBy(col("fday")).agg(count(lit(1)).as("n_new"))
        val wCum = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.join(firsts, col("day") === col("fday"), "left")
          .select(col("day"), col("n_active"), col("n_events"),
                  coalesce(col("n_new"), lit(0L)).as("n_new"))
          .withColumn("cum_users", sum(col("n_new")).over(wCum))
          .orderBy(col("day"))
      },
      """WITH e AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
        |daily AS (
        |  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
        |    COUNT(*) AS n_events
        |  FROM e GROUP BY day),
        |firsts AS (
        |  SELECT fday, CAST(COUNT(*) AS BIGINT) AS n_new
        |  FROM (SELECT user_id, MIN(day) AS fday FROM e GROUP BY user_id)
        |  GROUP BY fday)
        |SELECT day, n_active, n_events,
        |  COALESCE(n_new, 0) AS n_new,
        |  CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM daily LEFT JOIN firsts ON day = fday
        |ORDER BY day""".stripMargin),

    Q(
      // Dispersion of the hourly arrival process: Fano factor
      // (variance/mean of per-hour event counts, over observed hours)
      // per event type — the burstiness test (≈1 Poisson, >1 bursty).
      // Hour buckets are exact integer µs-division; count moments
      // accumulate in DECIMAL(38,0); fano = (n·Σc² − (Σc)²)/(n·Σc) is
      // the one double. Two hash-aggs, no window.
      "q_events_fano",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(col("event_type"),
                  expr("ts_us div 3600000000").as("hr"))
          .groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("c"))
        val m = hourly.groupBy(col("event_type"))
          .agg(count(lit(1)).cast("long").as("n"),
               sum(col("c").cast(D38)).as("sc"),
               sum((col("c").cast(D38) * col("c").cast(D38)).cast(D38))
                 .as("scc"))
        val nD = col("n").cast(D38)
        m.select(col("event_type"), col("n").as("n_hours"),
                 col("sc").cast("long").as("n_events"),
                 round((nD * col("scc") - col("sc") * col("sc"))
                         .cast("double") /
                       (nD * col("sc")).cast("double"), 4).as("fano"))
          .orderBy(col("event_type"))
      },
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    COUNT(*) AS c
        |  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(c AS HUGEINT)) AS sc,
        |    SUM(CAST(c AS HUGEINT) * c) AS scc
        |  FROM hourly GROUP BY event_type)
        |SELECT event_type, n AS n_hours, CAST(sc AS BIGINT) AS n_events,
        |  round(CAST(CAST(n AS HUGEINT) * scc - sc * sc AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * sc AS DOUBLE), 4) + 0 AS fano
        |FROM m ORDER BY event_type""".stripMargin),

    Q(
      // Lag-1 autocorrelation of the hourly arrival series per event
      // type — the seasonality/trend detector beside Fano's dispersion:
      // Pearson r over (count, previous-hour count) pairs, CONSECUTIVE
      // hours only (lag(hr) must equal hr−1 — a gap is not a pair, not
      // a zero). Count moments exact in DECIMAL(38,0); r is one double.
      "q_ts_autocorr",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(col("event_type"), expr("ts_us div 3600000000").as("hr"))
          .groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        val pairs = hourly
          .withColumn("ph", lag(col("hr"), 1).over(w))
          .withColumn("pc", lag(col("c"), 1).over(w))
          .filter(col("ph").isNotNull && col("hr") === col("ph") + 1)
        val m = pairs.groupBy(col("event_type"))
          .agg(count(lit(1)).cast("long").as("n"),
               sum(col("pc").cast(D38)).as("sx"),
               sum(col("c").cast(D38)).as("sy"),
               sum((col("pc").cast(D38) * col("c").cast(D38)).cast(D38))
                 .as("sxy"),
               sum((col("pc").cast(D38) * col("pc").cast(D38)).cast(D38))
                 .as("sxx"),
               sum((col("c").cast(D38) * col("c").cast(D38)).cast(D38))
                 .as("syy"))
        val nD = col("n").cast(D38)
        m.select(col("event_type"), col("n").as("n_pairs"),
                 round((nD * col("sxy") - col("sx") * col("sy"))
                         .cast("double") /
                       sqrt((nD * col("sxx") - col("sx") * col("sx"))
                              .cast("double") *
                            (nD * col("syy") - col("sy") * col("sy"))
                              .cast("double")), 4).as("r1"))
          .orderBy(col("event_type"))
      },
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    COUNT(*) AS c
        |  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000),
        |p AS (
        |  SELECT event_type, c,
        |    lag(hr, 1) OVER (PARTITION BY event_type ORDER BY hr) AS ph,
        |    lag(c, 1) OVER (PARTITION BY event_type ORDER BY hr) AS pc,
        |    hr
        |  FROM hourly),
        |q AS (SELECT * FROM p WHERE ph IS NOT NULL AND hr = ph + 1),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(pc AS HUGEINT)) AS sx, SUM(CAST(c AS HUGEINT)) AS sy,
        |    SUM(CAST(pc AS HUGEINT) * c) AS sxy,
        |    SUM(CAST(pc AS HUGEINT) * pc) AS sxx,
        |    SUM(CAST(c AS HUGEINT) * c) AS syy
        |  FROM q GROUP BY event_type)
        |SELECT event_type, n AS n_pairs,
        |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |               * CAST(CAST(n AS HUGEINT) * syy - sy * sy
        |                      AS DOUBLE)), 4) + 0 AS r1
        |FROM m ORDER BY event_type""".stripMargin),

    Q(
      // Source freshness / staleness monitor: per event type, the last
      // event time, the lag behind the freshest type, and the count in
      // the final hour of the feed — the "is this stream stuck"
      // dashboard row. The global max rides a broadcast 1-row cross
      // join; everything is exact BIGINT µs.
      "q_etl_freshness",
      (s, d) => {
        val e = Tables.events(s, d).select(col("event_type"), col("ts_us"))
        val gm = e.agg(max(col("ts_us")).as("gm"))
        e.crossJoin(broadcast(gm))
          .groupBy(col("event_type"))
          .agg(max(col("ts_us")).as("last_ts_us"),
               count(lit(1)).as("n_total"),
               sum(when(col("ts_us") > col("gm") - 3600000000L, 1L)
                 .otherwise(0L)).as("n_last_hour"),
               (max(col("gm")) - max(col("ts_us"))).as("lag_us"))
          .orderBy(col("event_type"))
      },
      """WITH g AS (SELECT MAX(epoch_us(ts)) AS gm FROM events)
        |SELECT event_type,
        |  MAX(epoch_us(ts)) AS last_ts_us,
        |  COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN epoch_us(ts) > g.gm - 3600000000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_last_hour,
        |  CAST(MAX(g.gm) - MAX(epoch_us(ts)) AS BIGINT) AS lag_us
        |FROM events CROSS JOIN g
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    Q(
      // Deterministic Poisson(1) bootstrap over per-doc char counts:
      // every (doc, replicate) draws its weight from the md5 uniform
      // (inverse CDF on the integer 2¹⁶ grid, capped at 5 — thresholds
      // 24109/48219/60273/64292/65296 = round(F(k)·65536)), so the
      // resample is REPLAYABLE on any cluster at any partitioning —
      // the property that makes bootstrap CIs auditable at 100 TB.
      // Per-replicate means become half-up 1e-4-unit INTEGERS (the
      // intRatio4 encoding) so the cross-replicate mean/sd moments stay
      // exact; two doubles at the very end. Two scans total: explode
      // ×R, one hash-agg, one 10-row finish.
      "q_stats_bootstrap",
      (s, d) => {
        val reps = 10
        // thresholds = round(65536·CDF_Poisson(1)(k)), k = 0..4 — the
        // exact grid (e⁻¹·Σ1/j!): 24109, 48219, 60273, 64292, 65296.
        // Round 11 fixed the first four, which had drifted +3/+6/+9/−1
        // off the true CDF (a low-precision e⁻¹ in the original
        // derivation — the mirrored-constant class the OracleAuditSpec
        // replay now pins independently via math.exp).
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"))
          .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
          .withColumn("u", graft.api.Pipeline.hash16(
            concat(col("doc_id").cast("string"), lit(":"),
                   col("rep").cast("string"))))
          .withColumn("w",
            when(col("u") < 24109, 0L).when(col("u") < 48219, 1L)
              .when(col("u") < 60273, 2L).when(col("u") < 64292, 3L)
              .when(col("u") < 65296, 4L).otherwise(5L))
        val perRep = base.groupBy(col("rep"))
          .agg(sum(col("w")).as("ne"),
               sum(col("w") * col("n_chars")).as("ts"))
          .withColumn("a4", expr("(2 * ts * 10000 + ne) div (2 * ne)"))
        val m = perRep.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("a4")).as("sa"),
          sum((col("a4").cast(D38) * col("a4").cast(D38)).cast(D38))
            .as("ssa"))
        m.select(col("n").as("n_reps"),
                 round(col("sa").cast("double") /
                       (col("n") * 10000.0), 4).as("mean_avg_chars"),
                 round(sqrt((col("n").cast(D38) * col("ssa") -
                             col("sa").cast(D38) * col("sa").cast(D38))
                              .cast("double") /
                            (col("n").cast("double") * (col("n") - 1)))
                       / 10000.0, 4).as("sd_avg_chars"))
      },
      s"""WITH r AS (SELECT range AS rep FROM range(0, 10)),
        |b AS (
        |  SELECT d.n_chars, r.rep,
        |    ${u16Sql("CAST(d.doc_id AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)")} AS u
        |  FROM documents d CROSS JOIN r),
        |w AS (
        |  SELECT rep, n_chars,
        |    CASE WHEN u < 24109 THEN 0 WHEN u < 48219 THEN 1
        |         WHEN u < 60273 THEN 2 WHEN u < 64292 THEN 3
        |         WHEN u < 65296 THEN 4 ELSE 5 END AS w
        |  FROM b),
        |p AS (
        |  SELECT rep, CAST(SUM(w) AS BIGINT) AS ne,
        |    CAST(SUM(w * n_chars) AS BIGINT) AS ts
        |  FROM w GROUP BY rep),
        |a AS (SELECT rep, (2 * ts * 10000 + ne) // (2 * ne) AS a4 FROM p),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a4) AS BIGINT) AS sa,
        |    SUM(CAST(a4 AS HUGEINT) * a4) AS ssa
        |  FROM a)
        |SELECT n AS n_reps,
        |  round(CAST(sa AS DOUBLE) / (n * 10000.0), 4) + 0
        |    AS mean_avg_chars,
        |  round(sqrt(CAST(CAST(n AS HUGEINT) * ssa
        |                  - CAST(sa AS HUGEINT) * sa AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * (n - 1))) / 10000.0, 4) + 0
        |    AS sd_avg_chars
        |FROM m""".stripMargin),

    Q(
      // KL divergence of the observed language mix from the declared
      // target mix (en 40 / zh 20 / de 15 / fr 15 / es 10 %) — the
      // mixture-drift gate in nats, the scalar a mix-rebalancing run
      // optimizes. ONE conditional hash-agg collapses the corpus to 5
      // integer counts in a single row; KL is then a FIXED 5-term
      // double expression (no aggregation of doubles ever happens, so
      // the sum order is literal and identical cross-engine).
      "q_mix_kl",
      (s, d) => {
        val langs = Seq("de" -> 1500, "en" -> 4000, "es" -> 1000,
                        "fr" -> 1500, "zh" -> 2000)
        val m = Tables.documents(s, d).agg(
          count(lit(1)).cast("long").as("n"),
          langs.map { case (l, _) =>
            sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"c_$l")
          }: _*)
        val n = col("n").cast("double")
        val kl = langs.map { case (l, q4) =>
          val c = col(s"c_$l")
          when(c === 0, 0.0).otherwise(
            (c.cast("double") / n) *
            log((c.cast("double") * 10000.0) / (n * q4)))
        }.reduce(_ + _)
        m.select(col("n").as("n_docs"), round(kl, 4).as("kl_nats"))
      },
      """WITH m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_de,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_en,
        |    CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_es,
        |    CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_fr,
        |    CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_zh
        |  FROM documents)
        |SELECT n AS n_docs,
        |  round(
        |    (CASE WHEN c_de = 0 THEN 0 ELSE (CAST(c_de AS DOUBLE)
        |       / CAST(n AS DOUBLE)) * ln((CAST(c_de AS DOUBLE) * 10000.0)
        |       / (CAST(n AS DOUBLE) * 1500)) END)
        |    + (CASE WHEN c_en = 0 THEN 0 ELSE (CAST(c_en AS DOUBLE)
        |       / CAST(n AS DOUBLE)) * ln((CAST(c_en AS DOUBLE) * 10000.0)
        |       / (CAST(n AS DOUBLE) * 4000)) END)
        |    + (CASE WHEN c_es = 0 THEN 0 ELSE (CAST(c_es AS DOUBLE)
        |       / CAST(n AS DOUBLE)) * ln((CAST(c_es AS DOUBLE) * 10000.0)
        |       / (CAST(n AS DOUBLE) * 1000)) END)
        |    + (CASE WHEN c_fr = 0 THEN 0 ELSE (CAST(c_fr AS DOUBLE)
        |       / CAST(n AS DOUBLE)) * ln((CAST(c_fr AS DOUBLE) * 10000.0)
        |       / (CAST(n AS DOUBLE) * 1500)) END)
        |    + (CASE WHEN c_zh = 0 THEN 0 ELSE (CAST(c_zh AS DOUBLE)
        |       / CAST(n AS DOUBLE)) * ln((CAST(c_zh AS DOUBLE) * 10000.0)
        |       / (CAST(n AS DOUBLE) * 2000)) END),
        |  4) + 0 AS kl_nats
        |FROM m""".stripMargin),

    Q(
      // Day-of-week × hour calendar heatmap of event volume — the
      // traffic-shape report. Both axes derive from pure integer µs
      // division ((days+4)%7 anchors 1970-01-01=Thursday with Sunday=0),
      // so no engine calendar/locale semantics are in play; one
      // hash-agg, 168 output cells max.
      "q_events_heatmap",
      (s, d) => Tables.events(s, d)
        .select(expr("(ts_us div 86400000000 + 4) % 7").as("dow"),
                expr("(ts_us div 3600000000) % 24").as("hr"))
        .groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("dow"), col("hr")),
      """SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) // 3600000000) % 24 AS hr,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY dow, hr ORDER BY dow, hr""".stripMargin),

    Q(
      // Gini coefficient of revenue concentration across customers —
      // the inequality scalar behind every "top-N% of customers drive
      // M% of revenue" statement: G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ)
      // over cent-exact per-customer revenue sorted ascending (ties
      // broken by custkey — any total order over equal values yields
      // the same G, the tiebreak just makes both engines sort
      // identically). Rank·revenue products in DECIMAL(38,0); one
      // double at the end. Scale shape (r9): the customer frame is a
      // KEY dimension — it grows linearly with the corpus (150k·SF),
      // so the rank comes from the DISTRIBUTED two-pass prefix sum
      // over the composite (rc, custkey) order, never a single-task
      // row_number window; each row is unique by that tuple, so the
      // cumulative count IS the 1-based rank.
      "q_stats_gini",
      (s, d) => {
        val rev = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg((sum(money("o_totalprice")) * 100).cast("long").as("rc"))
        val ranked = distCumSumsBy(rev.withColumn("one", lit(1L)),
                                   Seq("rc", "o_custkey"), Seq("one"))
        val m = ranked.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("rc").cast(D38)).as("sx"),
          sum((col("cum_one").cast(D38) * col("rc").cast(D38)).cast(D38))
            .as("six"))
        val nD = col("n").cast(D38)
        m.select(col("n").as("n_cust"),
                 round((lit(2).cast(D38) * col("six") -
                        (nD + 1) * col("sx")).cast("double") /
                       (nD * col("sx")).cast("double"), 4).as("gini"))
      },
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |         AS BIGINT) AS rc
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT rc, row_number() OVER (ORDER BY rc, o_custkey) AS i
        |  FROM rev),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(rc AS HUGEINT)) AS sx,
        |    SUM(CAST(i AS HUGEINT) * rc) AS six
        |  FROM r)
        |SELECT n AS n_cust,
        |  round(CAST(2 * six - (CAST(n AS HUGEINT) + 1) * sx AS DOUBLE)
        |        / CAST(CAST(n AS HUGEINT) * sx AS DOUBLE), 4) + 0
        |    AS gini
        |FROM m""".stripMargin),

    Q(
      // Vocabulary richness per language: hapax legomena (terms seen
      // exactly once) as a fraction of the vocabulary — the classic
      // OCR-garbage / template-text detector (junk inflates hapax
      // mass, boilerplate deflates it). One explode → term-count
      // hash-agg → |vocab|-sized rollup; the ratio is boundary-exact
      // via intRatio4.
      "q_text_hapax",
      (s, d) => {
        val terms = Tables.documents(s, d)
          .select(col("lang"),
                  explode(graft.api.Dedup.tokens(col("text"))).as("w"))
          .groupBy(col("lang"), col("w"))
          .agg(count(lit(1)).as("tf"))
        terms.groupBy(col("lang"))
          .agg(count(lit(1)).as("vocab"),
               sum(when(col("tf") === 1, 1L).otherwise(0L)).as("hapax"))
          .select(col("lang"), col("vocab"), col("hapax"),
                  intRatio4(col("hapax") * 10000, col("vocab"))
                    .as("hapax_ratio"))
          .orderBy(col("lang"))
      },
      s"""WITH t AS (
        |  SELECT lang, w, COUNT(*) AS tf
        |  FROM (SELECT lang, unnest(${toksSql("text")}) AS w
        |        FROM documents)
        |  GROUP BY lang, w),
        |a AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab,
        |    CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS hapax
        |  FROM t GROUP BY lang)
        |SELECT lang, vocab, hapax,
        |  CAST((2 * hapax * 10000 + vocab) // (2 * vocab) AS DOUBLE)
        |    / 10000.0 AS hapax_ratio
        |FROM a ORDER BY lang""".stripMargin),

    Q(
      // Jensen-Shannon divergence of each SOURCE's term distribution
      // from the corpus-wide one — the bounded, symmetric drift gate
      // (0 = same feed, ln2 = disjoint vocab). Only terms PRESENT in
      // the source need rows: the absent-term mass folds into the
      // closed form ½ln2 + ½Σ_present[p·ln(2p/(p+q)) + q·(ln(2q/(p+q))
      // − ln2)]. Per-term contributions are one fixed double
      // expression quantized to 1e-9 and summed as LONGS (the chisq
      // trick — integer sums are partition-order independent where a
      // double Σ over 10⁴ terms is not). Corpus totals attach by one
      // term-keyed join; marginals broadcast.
      "q_text_jsd",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"),
                  explode(graft.api.Dedup.tokens(col("text"))).as("w"))
        val byS = tok.groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c1"))
        val tot = byS.groupBy(col("w")).agg(sum(col("c1")).as("ct"))
        val ns = byS.groupBy(col("source")).agg(sum(col("c1")).as("n1"))
        val nn = tok.agg(count(lit(1)).as("nn"))
        val p = col("c1").cast("double") / col("n1")
        val q = col("ct").cast("double") / col("nn")
        val chi = p * log(lit(2.0) * p / (p + q)) +
                  q * (log(lit(2.0) * q / (p + q)) - log(lit(2.0)))
        byS.join(tot, "w")
          .join(broadcast(ns), "source")
          .crossJoin(broadcast(nn))
          .withColumn("tq", round(chi * 1e9).cast("long"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_terms"), sum(col("tq")).as("_sq"))
          .select(col("source"), col("n_terms"),
                  round(lit(0.5) * log(lit(2.0)) +
                        col("_sq").cast("double") / 2.0e9, 4)
                    .as("jsd_nats"))
          .orderBy(col("source"))
      },
      s"""WITH tok AS (
        |  SELECT source, unnest(${toksSql("text")}) AS w
        |  FROM documents),
        |bys AS (
        |  SELECT source, w, COUNT(*) AS c1 FROM tok GROUP BY source, w),
        |tot AS (SELECT w, CAST(SUM(c1) AS BIGINT) AS ct
        |        FROM bys GROUP BY w),
        |ns AS (SELECT source, CAST(SUM(c1) AS BIGINT) AS n1
        |       FROM bys GROUP BY source),
        |nn AS (SELECT COUNT(*) AS nn FROM tok),
        |x AS (
        |  SELECT bys.source,
        |    CAST(round((CAST(c1 AS DOUBLE) / n1
        |        * ln(2.0 * (CAST(c1 AS DOUBLE) / n1)
        |             / (CAST(c1 AS DOUBLE) / n1 + CAST(ct AS DOUBLE) / nn))
        |      + CAST(ct AS DOUBLE) / nn
        |        * (ln(2.0 * (CAST(ct AS DOUBLE) / nn)
        |              / (CAST(c1 AS DOUBLE) / n1
        |                 + CAST(ct AS DOUBLE) / nn)) - ln(2.0)))
        |      * 1000000000) AS BIGINT) AS tq
        |  FROM bys JOIN tot USING (w) JOIN ns USING (source)
        |       CROSS JOIN nn)
        |SELECT source, COUNT(*) AS n_terms,
        |  round(0.5 * ln(2.0)
        |        + CAST(SUM(tq) AS DOUBLE) / 2000000000.0, 4) + 0
        |    AS jsd_nats
        |FROM x GROUP BY source ORDER BY source""".stripMargin),

    Q(
      // Benford first-digit gate over order totals — the fabricated-
      // numbers detector: the leading digit comes from pure STRING
      // arithmetic on exact cents (substr of the integer — no float
      // log10 ever touches membership), shares via intRatio4, and the
      // per-digit Benford expectation log10(1+1/d) is a fixed-shape
      // double both engines evaluate identically.
      "q_stats_benford",
      (s, d) => {
        val digits = Tables.orders(s, d)
          .select(substring((money("o_totalprice") * 100).cast("long")
                    .cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val tot = digits.agg(sum(col("n")).as("t"))
        digits.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
                  intRatio4(col("n") * 10000, col("t")).as("share"),
                  round(log10(lit(1.0) + lit(1.0) / col("digit")), 4)
                    .as("benford"))
          .orderBy(col("digit"))
      },
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS
        |      DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
        |      AS INTEGER) AS digit
        |  FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM g)
        |SELECT digit, n,
        |  CAST((2 * n * 10000 + t.t) // (2 * t.t) AS DOUBLE) / 10000.0
        |    AS share,
        |  round(log10(1.0 + 1.0 / digit), 4) + 0 AS benford
        |FROM g CROSS JOIN t
        |ORDER BY digit""".stripMargin),

    Q(
      // Conditional entropy of the user event stream: H(next | current)
      // = −Σᵢⱼ (cᵢⱼ/N)·ln(cᵢⱼ/nᵢ) over the per-user transition counts —
      // how predictable behavior is (0 = deterministic chains, ln|types|
      // = uniform). Same (user, time) lag as q_events_transitions;
      // per-cell contributions are one fixed double expression
      // quantized 1e-9 and summed as longs (|types|² ≤ 36 cells, but
      // the integer-sum discipline is uniform across the stats family).
      "q_events_markov_entropy",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").asc, col("event_id").asc)
        val cij = Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"),
                  col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        val ni = cij.groupBy(col("prev")).agg(sum(col("c")).as("ni"))
        val nn = cij.agg(sum(col("c")).as("nn"))
        val term = (col("c").cast("double") / col("nn")) *
                   log(col("c").cast("double") / col("ni"))
        cij.join(broadcast(ni), "prev")
          .crossJoin(broadcast(nn))
          .withColumn("tq", round(term * 1e9).cast("long"))
          .agg(sum(col("c")).as("n_transitions"),
               count(lit(1)).as("n_cells"),
               sum(col("tq")).as("_sq"))
          .select(col("n_transitions"), col("n_cells"),
                  round(col("_sq").cast("double") / -1.0e9, 4)
                    .as("cond_entropy_nats"))
      },
      """WITH t AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
        |  FROM events),
        |cij AS (
        |  SELECT prev, event_type, COUNT(*) AS c
        |  FROM t WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |ni AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS ni
        |       FROM cij GROUP BY prev),
        |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cij),
        |x AS (
        |  SELECT c,
        |    CAST(round((CAST(c AS DOUBLE) / nn)
        |      * ln(CAST(c AS DOUBLE) / ni) * 1000000000) AS BIGINT)
        |      AS tq
        |  FROM cij JOIN ni USING (prev) CROSS JOIN nn)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_transitions,
        |  COUNT(*) AS n_cells,
        |  round(CAST(SUM(tq) AS DOUBLE) / -1000000000.0, 4) + 0
        |    AS cond_entropy_nats
        |FROM x""".stripMargin),

    Q(
      // MERGEABLE quantile sketch: p50/p95/p99 of event value (cents)
      // per type estimated from a 256-fixed-bin histogram, reported
      // NEXT TO the exact discrete percentile so the bin-width error
      // is visible in the gate (the q_distinct_kmv posture applied to
      // quantiles). The sketch state is |bins| integers whose counts
      // are a pure function of the input SET — partials OR-merge
      // map-side in any order on any cluster size, which is why a
      // 100 TB deployment ships bin counts (KB) to the driver instead
      // of sorting the corpus; the estimate is the upper edge of the
      // first bin whose cumulative count reaches ⌈p·n/100⌉, clipped to
      // the observed max. Everything is integer math end-to-end (bin
      // width via integer div, targets via (p·n+99) div 100), so both
      // the estimate AND its error vs exact hash-match across engines.
      // Scale shape: one scan → tiny per-type stats broadcast → one
      // hash-agg to ≤256-row bin frames; the windows run over the
      // COLLAPSED bin/distinct-cent frames, never the corpus.
      "q_stats_sketch_quantile",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        // sketch side: the public mergeable-histogram API (api.Stats)
        val est = graft.api.Stats.binnedQuantiles(
            e, col("event_type"), col("vc"), bins = 256,
            ps = Seq(50, 95, 99))
          .select(col("key").as("event_type"),
                  col("p50_est"), col("p95_est"), col("p99_est"))
        // exact side (the gate's error reference): discrete percentile
        // over the collapsed distinct-cent frame
        def tgt(p: Int) = expr(s"($p * n + 99) div 100")
        val tot = e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("event_type").as("t1"), col("n"))
        val dv = e.groupBy(col("event_type"), col("vc"))
          .agg(count(lit(1)).as("c"))
          .join(broadcast(tot), col("event_type") === col("t1"))
        val wv = Window.partitionBy(col("event_type"))
          .orderBy(col("vc").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cumV = dv.withColumn("cum", sum(col("c")).over(wv))
        val exact = cumV.groupBy(col("event_type"), col("n"))
          .agg(min(when(col("cum") >= tgt(50), col("vc"))).as("p50_exact"),
               min(when(col("cum") >= tgt(95), col("vc"))).as("p95_exact"),
               min(when(col("cum") >= tgt(99), col("vc"))).as("p99_exact"))
        exact.join(est, "event_type")
          .select(col("event_type"), col("n"),
                  col("p50_est"), col("p50_exact"),
                  col("p95_est"), col("p95_exact"),
                  col("p99_est"), col("p99_exact"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n, MIN(vc) AS minc,
        |    MAX(vc) AS maxc, (MAX(vc) - MIN(vc)) // 256 + 1 AS width
        |  FROM e GROUP BY event_type),
        |b AS (
        |  SELECT e.event_type, n, minc, maxc, width,
        |    (vc - minc) // width AS bin, COUNT(*) AS c
        |  FROM e JOIN st USING (event_type)
        |  GROUP BY e.event_type, n, minc, maxc, width, (vc - minc) // width),
        |cb AS (
        |  SELECT event_type, n, minc, maxc, width, bin, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY bin ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    least(minc + (bin + 1) * width - 1, maxc) AS edge
        |  FROM b),
        |est AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN edge END)
        |      AS p50_est,
        |    MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN edge END)
        |      AS p95_est,
        |    MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN edge END)
        |      AS p99_est
        |  FROM cb GROUP BY event_type),
        |dv AS (
        |  SELECT e.event_type, n, vc, COUNT(*) AS c
        |  FROM e JOIN st USING (event_type)
        |  GROUP BY e.event_type, n, vc),
        |cv AS (
        |  SELECT event_type, n, vc,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY vc ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM dv),
        |ex AS (
        |  SELECT event_type, n,
        |    MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN vc END)
        |      AS p50_exact,
        |    MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN vc END)
        |      AS p95_exact,
        |    MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN vc END)
        |      AS p99_exact
        |  FROM cv GROUP BY event_type, n)
        |SELECT ex.event_type, n, p50_est, p50_exact, p95_est, p95_exact,
        |  p99_est, p99_exact
        |FROM ex JOIN est ON est.event_type = ex.event_type
        |ORDER BY ex.event_type""".stripMargin),

    Q(
      // count-min sketch (api.Stats.countMinCounters/Estimate): point
      // frequencies of the top-10 corpus words from a 4×16 counter
      // matrix, NEXT TO the exact counts so the one-sided error is
      // visible in the gate (overcount ≥ 0 always; width 16 < the
      // 31-word vocabulary forces real collisions, and the min over 4
      // rows is what keeps them small — the same sketch-vs-exact
      // posture as q_distinct_kmv and q_stats_sketch_quantile, for the
      // THIRD mergeable-sketch family member: point counts, where KMV
      // does distincts and histBins does quantiles). Scale shape: the
      // sketch shuffles ≤ 64 counters regardless of corpus size; the
      // probe join is broadcast-tiny on both sides.
      "q_agg_countmin",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(graft.api.Dedup.tokens(col("text"))).as("w"))
        val exact = words.groupBy(col("w"))
          .agg(count(lit(1)).as("n_exact"))
        val top = exact.orderBy(col("n_exact").desc, col("w")).limit(10)
        val counters = graft.api.Stats.countMinCounters(
          words, col("w"), depth = 4, width = 16)
        val est = graft.api.Stats.countMinEstimate(
          counters, top, col("w"), depth = 4, width = 16)
        top.join(est, col("w") === col("key"))
          .select(col("w"), col("n_exact"), col("cms_est"),
                  (col("cms_est") - col("n_exact")).as("overcount"))
          .orderBy(col("n_exact").desc, col("w"))
      },
      {
        val h = (k: String) =>  // parens: % binds tighter than u16's +
          "(" + graft.ops.u16Sql(s"($k || '#' || CAST(r AS VARCHAR))") +
            ") % 16"
        s"""WITH w AS (
          |  SELECT unnest(${toksSql("text")}) AS w FROM documents),
          |ex AS (SELECT w, COUNT(*) AS n_exact FROM w GROUP BY w),
          |top AS (SELECT * FROM ex ORDER BY n_exact DESC, w LIMIT 10),
          |rr AS (SELECT unnest(range(0, 4)) AS r),
          |cnt AS (
          |  SELECT r, ${h("w.w")} AS b, COUNT(*) AS c
          |  FROM w CROSS JOIN rr GROUP BY 1, 2),
          |pe AS (
          |  SELECT top.w, rr.r, ${h("top.w")} AS b
          |  FROM top CROSS JOIN rr),
          |est AS (
          |  SELECT pe.w, MIN(COALESCE(cnt.c, 0)) AS cms_est
          |  FROM pe LEFT JOIN cnt ON cnt.r = pe.r AND cnt.b = pe.b
          |  GROUP BY pe.w)
          |SELECT top.w, CAST(top.n_exact AS BIGINT) AS n_exact,
          |  CAST(est.cms_est AS BIGINT) AS cms_est,
          |  CAST(est.cms_est - top.n_exact AS BIGINT) AS overcount
          |FROM top JOIN est ON est.w = top.w
          |ORDER BY n_exact DESC, top.w""".stripMargin
      }),

    Q(
      // Interval-sweep concurrency: how many order-lines are OPEN
      // (ordered, not yet shipped) on any given day — the classic
      // sweep-line over intervals that also answers "max concurrent
      // sessions/streams/jobs". Each [o_orderdate, l_shipdate) interval
      // becomes a +1/−1 delta pair, deltas collapse to the per-day NET
      // via one hash-agg (corpus-sized scan, map-side combinable), and
      // the running backlog is a cumsum over the bounded DATE DOMAIN
      // (~2.5k rows, constant in SF — the mannwhitney window posture:
      // windows run on domains, never corpora). Output: 1997's monthly
      // peak backlog with the FIRST day it was hit (deterministic
      // argmax via struct max on (peak, −epoch_day)) and the month's
      // net change. Days between deltas carry the last value by
      // construction — the peak is always attained AT a delta day.
      "q_ts_backlog_sweep",
      (s, d) => {
        val opened = Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
                col("l_orderkey") === col("o_orderkey"))
          .select(ldiv(unix_micros(col("o_orderdate").cast("timestamp")),
                       lit(86400000000L)).as("day"), lit(1L).as("delta"))
        val closed = Tables.lineitem(s, d)
          .select((ldiv(unix_micros(col("l_shipdate").cast("timestamp")),
                        lit(86400000000L)) + 1).as("day"),
                  lit(-1L).as("delta"))
        val net = opened.unionAll(closed)
          .groupBy(col("day")).agg(sum(col("delta")).as("net"))
        val wRun = Window.orderBy(col("day"))
        val run = net
          .withColumn("open_lines", sum(col("net")).over(wRun))
          .withColumn("yr", year(timestamp_micros(
            col("day") * 86400000000L)).cast("int"))
          .withColumn("mon", month(timestamp_micros(
            col("day") * 86400000000L)).cast("int"))
          .filter(col("yr") === 1997)
        run.groupBy(col("mon"))
          .agg(max(struct(col("open_lines"), (-col("day")).as("_nd")))
                 .as("_pk"),
               sum(col("net")).as("net_change"),
               count(lit(1)).as("n_delta_days"))
          .select(col("mon"),
                  col("_pk").getField("open_lines").as("peak_open"),
                  date_format(timestamp_micros(
                    -col("_pk").getField("_nd") * 86400000000L),
                    "yyyy-MM-dd").as("peak_day"),
                  col("net_change"), col("n_delta_days"))
          .orderBy(col("mon"))
      },
      """WITH deltas AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    1 AS delta
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  UNION ALL
        |  SELECT epoch_us(l_shipdate) // 86400000000 + 1 AS day,
        |    -1 AS delta
        |  FROM lineitem),
        |net AS (
        |  SELECT day, CAST(SUM(delta) AS BIGINT) AS net
        |  FROM deltas GROUP BY day),
        |run AS (
        |  SELECT day, net,
        |    CAST(SUM(net) OVER (ORDER BY day) AS BIGINT) AS open_lines,
        |    year(DATE '1970-01-01' + CAST(day AS INTEGER)) AS yr,
        |    month(DATE '1970-01-01' + CAST(day AS INTEGER)) AS mon
        |  FROM net),
        |pk AS (
        |  SELECT mon,
        |    MAX(struct_pack(ol := open_lines, nd := -day)) AS p,
        |    CAST(SUM(net) AS BIGINT) AS net_change,
        |    COUNT(*) AS n_delta_days
        |  FROM run WHERE yr = 1997 GROUP BY mon)
        |SELECT CAST(mon AS INTEGER) AS mon,
        |  CAST(p.ol AS BIGINT) AS peak_open,
        |  strftime(DATE '1970-01-01' + CAST(-p.nd AS INTEGER),
        |           '%Y-%m-%d') AS peak_day,
        |  net_change, n_delta_days
        |FROM pk ORDER BY mon""".stripMargin),

    Q(
      // Hash-seeded randomization test: is the BUILDING/MACHINERY gap
      // in mean order value significant? 200 replicates re-assign every
      // order to a pseudo-group by one BIT of the order's md5 digest
      // pair — the q_stats_bootstrap replayable-uniform device, so the
      // "permutation" null is reproducible on any cluster at any
      // partitioning. The digests are computed ONCE per order (two
      // md5s → 256 bits ⊇ 200 replicates); per-replicate assignment is
      // pure integer digit/bit extraction — the naive md5-per-
      // (order, rep) form measured 15.5 s at sf0.1 (12.2M digests);
      // bit-slicing collapses that to 122k digests, and md5 bits are
      // iid uniform so the null is statistically identical.
      // The entire test is EXACT integer math: per-
      // replicate mean difference |s1/n1 − s0/n0| compares against the
      // observed via cross-multiplication (|A_r|·B_o ≥ |A_o|·B_r with
      // A = s1·n0 − s0·n1, B = n1·n0, all DECIMAL(38,0)/HUGEINT) — no
      // float ever decides a replicate, so the extreme COUNT (and the
      // p-value grid point) can never flap. Degenerate one-sided
      // replicates (B_r = 0 ⇒ A_r = 0) count as extreme — conservative
      // and unreachable at any real pool size. Scale: explode ×200 then
      // ONE map-side-combinable hash-agg to 200 rows; the corpus is
      // scanned twice (observed + replicates), shuffled never beyond
      // 200×4 integers. p = (1 + #extreme) / (B + 1), half-up 1e-4.
      "q_stats_permutation",
      (s, d) => {
        val B = 200
        // r12 (guide §2.3/§3.3): pool fed three plan branches (obs,
        // reps, and obs again through the final crossJoin) — it is now
        // materialized once per invocation. The per-replicate hash-agg
        // — 200·|pool| exploded rows, the hottest loop of the query —
        // summed TWO conditional DECIMAL(38,0) columns per row; the
        // group-0 sums are derivable exactly as s0 = (s1o+s0o) − s1
        // and n0 = (n1o+n0o) − n1 from the one-row obs frame, so the
        // exploded agg now carries ONE decimal sum + one long sum per
        // row (same integers, half the decimal work where it counts).
        val pool = Tables.orders(s, d)
          .join(Tables.customer(s, d)
                  .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
                  .select(col("c_custkey"),
                          (col("c_mktsegment") === "BUILDING")
                            .cast("long").as("g_obs")),
                col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("g_obs"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .localCheckpoint()
        def grpSums(df: org.apache.spark.sql.DataFrame, g: String) = Seq(
          sum(when(col(g) === 1, col("vc")).otherwise(0L).cast(D38)),
          sum(when(col(g) === 0, col("vc")).otherwise(0L).cast(D38)),
          sum(col(g)),
          count(lit(1)) - sum(col(g)))
        val Seq(s1o, s0o, n1o, n0o) = grpSums(pool, "g_obs")
        val obs = pool.agg(s1o.as("s1o"), s0o.as("s0o"),
                           n1o.as("n1o"), n0o.as("n0o"))
          .withColumn("ao", abs(col("s1o") * col("n0o") -
                                col("s0o") * col("n1o")).cast(D38))
          .withColumn("bo", (col("n1o") * col("n0o")).cast(D38))
          .localCheckpoint() // one row, consumed by two branches
        val reps = pool
          // 64 hex digits = 256 bits per order, decoded to an int array
          // once; replicate r reads bit (r%4) of digit (r div 4)
          .withColumn("hh",
            concat(md5(concat(col("o_orderkey").cast("string"),
                              lit(":0"))),
                   md5(concat(col("o_orderkey").cast("string"),
                              lit(":1")))))
          .withColumn("hv", expr(
            "transform(split(hh, ''), c -> instr('0123456789abcdef', c) - 1)"))
          .withColumn("r", explode(sequence(lit(0), lit(B - 1))))
          .withColumn("g", expr(
            """CAST((element_at(hv, CAST(r div 4 AS INT) + 1)
              |      div (CASE r % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
              |           WHEN 2 THEN 4 ELSE 8 END)) % 2 AS BIGINT)"""
              .stripMargin))
        // r13 (guide §2.3 + codegen; r12 verdict #5): the 200×-exploded
        // agg was the one remaining per-row DECIMAL sum on this path —
        // SumLongDec38 accumulates the conditional cents as a LONG in
        // the codegen'd hash-agg buffer and only touches decimal on
        // flush/merge/eval. Same integers, same DECIMAL(38,0) result
        // type (groups are never empty: every r sees the whole pool).
        graft.functions.SumLongDec38.register(s)
        val repStats = reps.groupBy(col("r"))
          .agg(expr("sum_long_dec38(if(g = 1, vc, cast(0 as bigint)))")
                 .as("s1"),
               sum(col("g")).as("n1"))
        val ext = repStats.crossJoin(broadcast(obs))
          .withColumn("s0", (col("s1o") + col("s0o") - col("s1"))
                              .cast(D38))
          .withColumn("n0", col("n1o") + col("n0o") - col("n1"))
          .filter(abs(col("s1") * col("n0") - col("s0") * col("n1"))
                    .cast(D38) * col("bo") >=
                  col("ao") * (col("n1") * col("n0")).cast(D38))
          .agg(count(lit(1)).as("n_extreme"))
        obs.crossJoin(broadcast(ext))
          .select(col("n1o").as("n1"), col("n0o").as("n0"),
                  intRatio4Wide(col("ao") * 100, col("bo")).as("absdiff4"),
                  col("n_extreme"),
                  intRatio4((col("n_extreme") + 1) * 10000L,
                            lit((B + 1).toLong)).as("p4"))
      },
      s"""WITH pool AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS vc,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |obs AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 1 THEN vc ELSE 0 END) AS HUGEINT)
        |      AS s1,
        |    CAST(SUM(CASE WHEN g = 0 THEN vc ELSE 0 END) AS HUGEINT)
        |      AS s0,
        |    CAST(SUM(g) AS HUGEINT) AS n1,
        |    CAST(COUNT(*) - SUM(g) AS HUGEINT) AS n0
        |  FROM pool),
        |ob AS (
        |  SELECT n1, n0, abs(s1*n0 - s0*n1) AS ao, n1*n0 AS bo
        |  FROM obs),
        |ph AS (
        |  SELECT o_orderkey, vc,
        |    md5(CAST(o_orderkey AS VARCHAR) || ':0')
        |      || md5(CAST(o_orderkey AS VARCHAR) || ':1') AS hh
        |  FROM pool),
        |reps AS (
        |  SELECT t.r, p.vc,
        |    (((instr('0123456789abcdef',
        |         substr(p.hh, CAST(t.r // 4 AS INTEGER) + 1, 1)) - 1)
        |      // (CASE t.r % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
        |           WHEN 2 THEN 4 ELSE 8 END)) % 2) AS g
        |  FROM ph p CROSS JOIN range(0, 200) t(r)),
        |rs AS (
        |  SELECT r,
        |    CAST(SUM(CASE WHEN g = 1 THEN vc ELSE 0 END) AS HUGEINT)
        |      AS s1,
        |    CAST(SUM(CASE WHEN g = 0 THEN vc ELSE 0 END) AS HUGEINT)
        |      AS s0,
        |    CAST(SUM(g) AS HUGEINT) AS n1,
        |    CAST(COUNT(*) - SUM(g) AS HUGEINT) AS n0
        |  FROM reps GROUP BY r),
        |ex AS (
        |  SELECT COUNT(*) AS n_extreme
        |  FROM rs, ob
        |  WHERE abs(rs.s1*rs.n0 - rs.s0*rs.n1) * ob.bo
        |        >= ob.ao * (rs.n1*rs.n0))
        |SELECT CAST(ob.n1 AS BIGINT) AS n1, CAST(ob.n0 AS BIGINT) AS n0,
        |  CAST((2*(ob.ao*100) + ob.bo) // (2*ob.bo) AS DOUBLE) / 10000.0
        |    AS absdiff4,
        |  CAST(ex.n_extreme AS BIGINT) AS n_extreme,
        |  CAST((2*((ex.n_extreme + 1)*10000) + 201) // 402 AS DOUBLE)
        |    / 10000.0 AS p4
        |FROM ob, ex""".stripMargin),

    Q(
      // Lagged cross-correlation: Pearson r between the daily 'view'
      // series and the 'purchase' series shifted by 0..6 days — "does
      // browsing predict buying, and at what delay?" (the lead-lag
      // scan behind demand forecasting and causal-impact pre-checks;
      // q_ts_autocorr's two-series sibling). One corpus hash-agg to
      // the bounded DAY DOMAIN, then a 7-way explode of the ~30-row
      // view series self-aligns against purchases via one equi-join on
      // (day + lag) — all domain-sized. Moments exact in DECIMAL(38,0)
      // (HUGEINT twin); r is one double per lag, same expression tree
      // both engines.
      "q_ts_crosscorr",
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("event_type"),
                  expr("ts_us div 86400000000").as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("c"))
        val v = daily.filter(col("event_type") === "view")
          .select(col("day").as("vd"), col("c").as("x"))
        val p = daily.filter(col("event_type") === "purchase")
          .select(col("day").as("pd"), col("c").as("y"))
        val pairs = v
          .withColumn("lag", explode(sequence(lit(0L), lit(6L))))
          .join(p, col("pd") === col("vd") + col("lag"))
        val m = pairs.groupBy(col("lag"))
          .agg(count(lit(1)).cast("long").as("n"),
               sum(col("x").cast(D38)).as("sx"),
               sum(col("y").cast(D38)).as("sy"),
               sum((col("x").cast(D38) * col("y").cast(D38)).cast(D38))
                 .as("sxy"),
               sum((col("x").cast(D38) * col("x").cast(D38)).cast(D38))
                 .as("sxx"),
               sum((col("y").cast(D38) * col("y").cast(D38)).cast(D38))
                 .as("syy"))
        val nD = col("n").cast(D38)
        m.select(col("lag"), col("n").as("n_days"),
                 round((nD * col("sxy") - col("sx") * col("sy"))
                         .cast("double") /
                       sqrt((nD * col("sxx") - col("sx") * col("sx"))
                              .cast("double") *
                            (nD * col("syy") - col("sy") * col("sy"))
                              .cast("double")), 4).as("r"))
          .orderBy(col("lag"))
      },
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    COUNT(*) AS c
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY event_type, epoch_us(ts) // 86400000000),
        |v AS (SELECT day AS vd, c AS x FROM daily
        |      WHERE event_type = 'view'),
        |p AS (SELECT day AS pd, c AS y FROM daily
        |      WHERE event_type = 'purchase'),
        |pr AS (
        |  SELECT t.lag, v.x, p.y
        |  FROM v CROSS JOIN range(0, 7) t(lag)
        |  JOIN p ON p.pd = v.vd + t.lag),
        |m AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pr GROUP BY lag)
        |SELECT lag, n AS n_days,
        |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |               * CAST(CAST(n AS HUGEINT) * syy - sy * sy
        |                      AS DOUBLE)), 4) + 0 AS r
        |FROM m ORDER BY lag""".stripMargin),

    Q(
      // LTTB-style downsampling (parallel variant): reduce the hourly
      // event-volume series to one representative point per 48-hour
      // bucket — the point maximizing the triangle area against the
      // PREVIOUS and NEXT buckets' centroids (classic LTTB anchors the
      // previously-SELECTED point, a sequential chain; anchoring the
      // neighbor centroid — Steinarsson §4.2's "LTTB-parallel" — makes
      // every bucket independent, i.e. one hash-agg + one domain-sized
      // join instead of a driver loop, the only form that scales).
      // Area argmax is decided on EXACT integers: the cross product
      // clears denominators (×np²·nn > 0) into DECIMAL(38,0)/HUGEINT,
      // ties break on x via struct max — no float ever picks a point.
      // First/last buckets keep their endpoint (min-x / max-x) per
      // LTTB's endpoint-preservation convention. Scale: corpus → hour
      // domain via one map-side-combinable agg; all else is bounded by
      // the DOMAIN (720 rows here, ~9k for a decade of hours).
      "q_ts_lttb",
      (s, d) => {
        // r13 (guide §1.1, TRIED AND REVERTED): hourly is re-planned
        // into 6 event scans (plans/r13/..._before.txt); the §3.3 seam
        // measured 0.80× at sf0.1 and 0.89× at sf1 (plans/r13/ab/) —
        // duplicate subtrees overlap on idle capacity, the seam
        // serializes
        val hourly = Tables.events(s, d)
          .select(expr("ts_us div 3600000000").as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("y"))
          .withColumn("b", expr("x div 48"))
        val stats = hourly.groupBy(col("b"))
          .agg(count(lit(1)).as("n"),
               sum(col("x").cast(D38)).as("sx"),
               sum(col("y").cast(D38)).as("sy"))
        val lim = stats.agg(min(col("b")).as("bmin"),
                            max(col("b")).as("bmax"))
        val prev = stats.select((col("b") + 1).as("_bp"),
          col("n").as("np"), col("sx").as("sxp"), col("sy").as("syp"))
        val nxt = stats.select((col("b") - 1).as("_bn"),
          col("n").as("nn"), col("sx").as("sxn"), col("sy").as("syn"))
        val interior = hourly.crossJoin(broadcast(lim))
          .filter(col("b") > col("bmin") && col("b") < col("bmax"))
          .join(broadcast(prev), col("b") === col("_bp"))
          .join(broadcast(nxt), col("b") === col("_bn"))
          .withColumn("num",
            (col("sxp") * col("nn") - col("sxn") * col("np")) *
              (col("y").cast(D38) * col("np") - col("syp")) -
            (col("sxp") - col("x").cast(D38) * col("np")) *
              (col("syn") * col("np") - col("syp") * col("nn")))
          .groupBy(col("b"))
          .agg(max(struct(abs(col("num")).as("a"), col("x"), col("y")))
                 .as("s"),
               count(lit(1)).as("n_pts"))
          .select(col("b"), col("s").getField("x").as("x"),
                  col("s").getField("y").as("y"), col("n_pts"))
        val ends = hourly.crossJoin(broadcast(lim))
          .filter(col("b") === col("bmin") || col("b") === col("bmax"))
          .groupBy(col("b"))
          .agg(min(struct(col("x"), col("y"))).as("mn"),
               max(struct(col("x"), col("y"))).as("mx"),
               count(lit(1)).as("n_pts"), max(col("bmin")).as("_m"))
          .select(col("b"),
                  when(col("b") === col("_m"), col("mn"))
                    .otherwise(col("mx")).as("s"),
                  col("n_pts"))
          .select(col("b"), col("s").getField("x").as("x"),
                  col("s").getField("y").as("y"), col("n_pts"))
        interior.unionByName(ends).orderBy(col("b"))
      },
      """WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS x, COUNT(*) AS y
        |  FROM events GROUP BY epoch_us(ts) // 3600000000),
        |hb AS (SELECT x, y, x // 48 AS b FROM hourly),
        |st AS (
        |  SELECT b, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(y AS HUGEINT)) AS sy
        |  FROM hb GROUP BY b),
        |lim AS (SELECT MIN(b) AS bmin, MAX(b) AS bmax FROM st),
        |cand AS (
        |  SELECT hb.b, hb.x, hb.y,
        |    abs((p.sx * q.n - q.sx * p.n)
        |          * (CAST(hb.y AS HUGEINT) * p.n - p.sy)
        |        - (p.sx - CAST(hb.x AS HUGEINT) * p.n)
        |          * (q.sy * p.n - p.sy * q.n)) AS anum
        |  FROM hb CROSS JOIN lim
        |  JOIN st p ON p.b = hb.b - 1
        |  JOIN st q ON q.b = hb.b + 1
        |  WHERE hb.b > lim.bmin AND hb.b < lim.bmax),
        |interior AS (
        |  SELECT b,
        |    MAX(struct_pack(a := anum, x := x, y := y)) AS s,
        |    COUNT(*) AS n_pts
        |  FROM cand GROUP BY b),
        |ends AS (
        |  SELECT hb.b,
        |    CASE WHEN hb.b = lim.bmin
        |      THEN MIN(struct_pack(x := x, y := y))
        |      ELSE MAX(struct_pack(x := x, y := y)) END AS s,
        |    COUNT(*) AS n_pts
        |  FROM hb CROSS JOIN lim
        |  WHERE hb.b = lim.bmin OR hb.b = lim.bmax
        |  GROUP BY hb.b, lim.bmin),
        |u AS (
        |  SELECT b, s.x AS x, s.y AS y, n_pts FROM interior
        |  UNION ALL
        |  SELECT b, s.x AS x, s.y AS y, n_pts FROM ends)
        |SELECT b, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        |  n_pts
        |FROM u ORDER BY b""".stripMargin),

    Q(
      // McNemar paired-proportions test: per customer the two binary
      // outcomes (has an 'F'-status order, has an 'O'-status order);
      // only the DISCORDANT counts b10/b01 matter, χ² = (b10−b01)² /
      // (b10+b01) — the paired test behind "did the same population
      // change state" (before/after flags, matched A/B exposure).
      // Everything integer through the χ² numerator (DECIMAL(38,0) —
      // a long (b10−b01)² wraps once discordants pass ~3e9, reachable
      // at the 100 TB customer count); one half-up 1e-4 division at
      // the end. One customer hash-agg + one 1-row conditional agg.
      "q_stats_mcnemar",
      (s, d) => {
        val u = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(max(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
                 .as("hf"),
               max(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
                 .as("ho"))
        val m = u.agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("hf") === 1 && col("ho") === 0, 1L).otherwise(0L))
            .as("b10"),
          sum(when(col("hf") === 0 && col("ho") === 1, 1L).otherwise(0L))
            .as("b01"))
        val diff = (col("b10") - col("b01")).cast(D38)
        m.select(col("n_pairs"), col("b10"), col("b01"),
                 intRatio4Wide((diff * diff * 10000).cast(D38),
                               col("b10") + col("b01")).as("chi2_4"))
      },
      """WITH u AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS hf,
        |    MAX(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS ho
        |  FROM orders GROUP BY o_custkey),
        |m AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    CAST(SUM(CASE WHEN hf = 1 AND ho = 0 THEN 1 ELSE 0 END)
        |         AS HUGEINT) AS b10,
        |    CAST(SUM(CASE WHEN hf = 0 AND ho = 1 THEN 1 ELSE 0 END)
        |         AS HUGEINT) AS b01
        |  FROM u)
        |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(b10 AS BIGINT) AS b10, CAST(b01 AS BIGINT) AS b01,
        |  CAST((2*((b10-b01)*(b10-b01)*10000) + (b10+b01))
        |       // (2*(b10+b01)) AS DOUBLE) / 10000.0 AS chi2_4
        |FROM m""".stripMargin),

    Q(
      // Exponentially time-decayed revenue per market segment — the
      // recency-weighted value metric (decayed LTV / trending score):
      // each order's cents contribute vc >> (age/180d) with the anchor
      // at the corpus's max order date — half-life 180 days, computed
      // ENTIRELY in integer shifts (the float exp(-λt) form would sum
      // partition-order dependent; the power-of-two ladder is exact
      // and engine-portable; ages ≥ 62 half-lives clamp to 0 so the
      // shift never overflows at any horizon). One broadcast anchor +
      // one hash-agg; cents → dollars once at the end.
      "q_agg_decayed_sum",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_custkey"),
                  (money("o_totalprice") * 100).cast("long").as("vc"),
                  ldiv(unix_micros(col("o_orderdate").cast("timestamp")),
                       lit(86400000000L)).as("day"))
        val anchor = o.agg(max(col("day")).as("a"))
        val seg = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
        o.crossJoin(broadcast(anchor))
          .withColumn("b", expr("(a - day) div 180"))
          .withColumn("dc", expr(
            "CASE WHEN b >= 62 THEN 0 " +
            "ELSE vc div shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) " +
            "END"))
          .join(seg, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_orders"),
               (sum(col("vc")).cast("double") / 100.0).as("revenue"),
               (sum(col("dc")).cast("double") / 100.0)
                 .as("decayed_revenue"))
          .orderBy(col("segment"))
      },
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS vc,
        |    epoch_us(o_orderdate) // 86400000000 AS day
        |  FROM orders),
        |anchor AS (SELECT MAX(day) AS a FROM o),
        |dec AS (
        |  SELECT o_custkey, vc,
        |    CASE WHEN (a - day) // 180 >= 62 THEN 0
        |    ELSE vc // (CAST(1 AS BIGINT) <<
        |               CAST((a - day) // 180 AS INTEGER))
        |    END AS dc
        |  FROM o CROSS JOIN anchor)
        |SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(vc) AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
        |  CAST(CAST(SUM(dc) AS BIGINT) AS DOUBLE) / 100.0
        |    AS decayed_revenue
        |FROM dec JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin),

    Q(
      // Wilson score interval for the view→purchase conversion rate —
      // the A/B-toolkit CI that stays sane at small n and extreme p
      // (the naive normal interval does not): k converters of n viewers
      // are EXACT integers from two hash-aggs; lo/hi are each ONE
      // fixed-shape double expression over (k, n, z=1.96) — identical
      // trees both engines, r4 + the −0.0 guard on the oracle. The
      // per-user frame is the only shuffle.
      "q_stats_wilson",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_type"))
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts_us")).as("mv"))
        val conv = e.filter(col("event_type") === "purchase")
          .join(v.select(col("user_id").as("_u"), col("mv")),
                col("user_id") === col("_u"))
          .filter(col("ts_us") > col("mv"))
          .select(col("user_id")).distinct()
        val m = v.join(conv.select(col("user_id").as("_c")),
                       col("user_id") === col("_c"), "left_outer")
          .agg(count(lit(1)).as("n"),
               sum(when(col("_c").isNotNull, 1L).otherwise(0L)).as("k"))
        val nD = col("n").cast("double")
        val kD = col("k").cast("double")
        val z2 = lit(1.96 * 1.96)
        val ctr = (kD + z2 / 2) / (nD + z2)
        val hw = (lit(1.96) / (nD + z2)) *
          sqrt(kD * (nD - kD) / nD + z2 / 4)
        m.select(col("n"), col("k"),
                 r4(kD / nD).as("p4"),
                 r4(ctr - hw).as("lo4"),
                 r4(ctr + hw).as("hi4"))
      },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |v AS (
        |  SELECT user_id, MIN(ts_us) AS mv
        |  FROM e WHERE event_type = 'view' GROUP BY user_id),
        |conv AS (
        |  SELECT DISTINCT e.user_id
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > v.mv),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS k
        |  FROM v LEFT JOIN conv c ON v.user_id = c.user_id)
        |SELECT n, k,
        |  round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 4) + 0 AS p4,
        |  round((CAST(k AS DOUBLE) + 1.96*1.96/2)
        |          / (CAST(n AS DOUBLE) + 1.96*1.96)
        |        - (1.96 / (CAST(n AS DOUBLE) + 1.96*1.96))
        |          * sqrt(CAST(k AS DOUBLE)
        |                 * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
        |                 / CAST(n AS DOUBLE) + 1.96*1.96/4), 4) + 0
        |    AS lo4,
        |  round((CAST(k AS DOUBLE) + 1.96*1.96/2)
        |          / (CAST(n AS DOUBLE) + 1.96*1.96)
        |        + (1.96 / (CAST(n AS DOUBLE) + 1.96*1.96))
        |          * sqrt(CAST(k AS DOUBLE)
        |                 * (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
        |                 / CAST(n AS DOUBLE) + 1.96*1.96/4), 4) + 0
        |    AS hi4
        |FROM m""".stripMargin),

    Q(
      // Theil-Sen robust trend of the daily event-volume series: the
      // median of all pairwise slopes (y_j−y_i)/(x_j−x_i) — the
      // estimator that shrugs off the outlier days OLS would chase
      // (29% breakdown point), plus the matching median intercept.
      // The O(n²) pair blowup runs on the bounded DAY DOMAIN (~30
      // rows → ~435 pairs at ANY SF — corpus collapses first, the
      // mannwhitney posture); each slope is ONE double division of
      // exact integers (identical both engines), medians are DISCRETE
      // picks under the total order (slope, i, j) — never interpolated,
      // so the hash can't flap. Two tiny cross-join passes.
      "q_ts_theil_sen",
      (s, d) => {
        // No seam on daily: measured 1.07×/1.08× (sf0.1/sf1), reverted: it hides the day-domain bound from PlanAuditSpec ban 2.
        val daily = Tables.events(s, d)
          .select(expr("ts_us div 86400000000").as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("y"))
        val a = daily.select(col("x").as("xi"), col("y").as("yi"))
        val b = daily.select(col("x").as("xj"), col("y").as("yj"))
        val pairs = a.join(b, col("xj") > col("xi"))
          .withColumn("sl", (col("yj") - col("yi")).cast("double") /
                            (col("xj") - col("xi")).cast("double"))
        val wS = Window.orderBy(col("sl"), col("xi"), col("xj"))
        val ranked = pairs
          .withColumn("rn", row_number().over(wS).cast("long"))
        val nP = ranked.agg(count(lit(1)).as("np"))
        val med = ranked.crossJoin(broadcast(nP))
          .filter(col("rn") === expr("(np + 1) div 2"))
          .select(col("sl").as("slope"), col("np"))
        val wI = Window.orderBy(col("ic"), col("x"))
        val ics = daily.crossJoin(broadcast(med))
          .withColumn("ic", col("y").cast("double") -
                            col("slope") * col("x").cast("double"))
          .withColumn("rni", row_number().over(wI).cast("long"))
        val nD = ics.agg(count(lit(1)).as("nd"))
        ics.crossJoin(broadcast(nD))
          .filter(col("rni") === expr("(nd + 1) div 2"))
          .select(col("nd").as("n_days"), col("np").as("n_pairs"),
                  r4(col("slope")).as("slope4"),
                  r4(col("ic")).as("intercept4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS x, COUNT(*) AS y
        |  FROM events GROUP BY epoch_us(ts) // 86400000000),
        |pairs AS (
        |  SELECT a.x AS xi, a.y AS yi, b.x AS xj, b.y AS yj,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
        |      AS sl
        |  FROM daily a JOIN daily b ON b.x > a.x),
        |r AS (
        |  SELECT sl,
        |    ROW_NUMBER() OVER (ORDER BY sl, xi, xj) AS rn,
        |    COUNT(*) OVER () AS np
        |  FROM pairs),
        |med AS (SELECT sl AS slope, np FROM r WHERE rn = (np + 1) // 2),
        |ics AS (
        |  SELECT d.x, med.np, med.slope,
        |    CAST(d.y AS DOUBLE) - med.slope * CAST(d.x AS DOUBLE)
        |      AS ic
        |  FROM daily d CROSS JOIN med),
        |ri AS (
        |  SELECT np, slope, ic,
        |    ROW_NUMBER() OVER (ORDER BY ic, x) AS rni,
        |    COUNT(*) OVER () AS nd
        |  FROM ics)
        |SELECT CAST(nd AS BIGINT) AS n_days,
        |  CAST(np AS BIGINT) AS n_pairs,
        |  round(slope, 4) + 0 AS slope4,
        |  round(ic, 4) + 0 AS intercept4
        |FROM ri WHERE rni = (nd + 1) // 2""".stripMargin),

    Q(
      // Isotonic (monotone) calibration of the quality-score bins via
      // the CLOSED-FORM max–min identity iso(k) = max_{i≤k} min_{j≥k}
      // rate(i..j) — exactly the pool-adjacent-violators fit, but as
      // a declarative join over segment sums instead of the sequential
      // PAVA loop (which no engine parallelizes). Bins and label are
      // q_eval_calibration's (quality decile vs lang='en'), so the
      // pair reads as "raw reliability curve → monotone fit".
      // Determinism: every segment rate goes through intRatio4 (exact
      // half-up integer division, THEN one identical /10⁴ float op) —
      // min/max over bit-identical doubles is bit-identical, so the
      // fit needs no further rounding. Monotonicity is guaranteed by
      // construction, not hoped for.
      // Scale shape: the corpus collapses to ≤10 bins in ONE hash-agg
      // pass; the O(B³) max–min join runs on a B≤10 dimension table —
      // catalog-sized, broadcast, never the corpus. PAVA on B bins is
      // driver-trivial; the POINT is the corpus→bins reduction shape.
      "q_stats_isotonic",
      (s, d) => {
        val bins = graft.api.Text.qualityScore(
            Tables.documents(s, d), col("text"), col("n_chars"))
          .select(least(floor(col("score") * 10), lit(9)).cast("int")
                    .as("bin"),
                  (col("lang") === "en").cast("long").as("pos1"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("pos1")).as("pos"))
        val wp = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pre = bins
          .withColumn("cn", sum(col("n")).over(wp))
          .withColumn("cp", sum(col("pos")).over(wp))
        val pi = pre.select(col("bin").as("i"), col("n").as("ni"),
                            col("cn").as("cni"), col("cp").as("cpi"),
                            col("pos").as("pi"))
        val pj = pre.select(col("bin").as("j"), col("cn").as("cnj"),
                            col("cp").as("cpj"))
        val seg = pi.join(pj, col("i") <= col("j"))
          .select(col("i"), col("j"),
                  intRatio4(
                    (col("cpj") - col("cpi") + col("pi")) * 10000L,
                    col("cnj") - col("cni") + col("ni")).as("rate"))
        val ks = bins.select(col("bin").as("k"))
        val iso = ks.join(seg, col("i") <= col("k") &&
                               col("j") >= col("k"))
          .groupBy(col("k"), col("i")).agg(min(col("rate")).as("mn"))
          .groupBy(col("k")).agg(max(col("mn")).as("iso4"))
        bins.join(iso, col("bin") === col("k"))
          .select(col("bin"), col("n"), col("pos"),
                  intRatio4(col("pos") * 10000L, col("n")).as("rate4"),
                  col("iso4"))
          .orderBy(col("bin"))
      },
      """WITH f AS (
        |  SELECT lang,
        |    CAST(n_chars AS DOUBLE) AS chars,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         t -> t = 'the' OR t = 'a')) AS DOUBLE) AS n_stop
        |  FROM documents),
        |sc AS (
        |  SELECT lang,
        |    least(chars / 500.0, 1.0) * 0.4 +
        |    (1.0 - n_stop / n_tok) * 0.3 +
        |    least((chars - n_tok + 1.0) / n_tok / 8.0, 1.0) * 0.3
        |      AS score
        |  FROM f),
        |b AS (
        |  SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
        |    COUNT(*) AS n,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
        |  FROM sc GROUP BY bin),
        |pre AS (
        |  SELECT bin, n, pos,
        |    SUM(n) OVER (ORDER BY bin) AS cn,
        |    SUM(pos) OVER (ORDER BY bin) AS cp
        |  FROM b),
        |seg AS (
        |  SELECT pi.bin AS i, pj.bin AS j,
        |    CAST((2 * ((pj.cp - pi.cp + pi.pos) * 10000)
        |          + (pj.cn - pi.cn + pi.n))
        |         // (2 * (pj.cn - pi.cn + pi.n)) AS DOUBLE) / 10000.0
        |      AS rate
        |  FROM pre pi JOIN pre pj ON pi.bin <= pj.bin),
        |mn AS (
        |  SELECT k.bin AS k, seg.i, MIN(seg.rate) AS mn
        |  FROM b k JOIN seg ON seg.i <= k.bin AND seg.j >= k.bin
        |  GROUP BY k.bin, seg.i),
        |iso AS (SELECT k, MAX(mn) AS iso4 FROM mn GROUP BY k)
        |SELECT b.bin, CAST(b.n AS BIGINT) AS n,
        |  CAST(b.pos AS BIGINT) AS pos,
        |  CAST((2 * (b.pos * 10000) + b.n) // (2 * b.n) AS DOUBLE)
        |    / 10000.0 AS rate4,
        |  iso.iso4
        |FROM b JOIN iso ON b.bin = iso.k
        |ORDER BY b.bin""".stripMargin),

    Q(
      // Brown–Forsythe (median-centered Levene) variance-homogeneity
      // test across event types — the gate that decides whether the
      // ANOVA/t-test family's equal-variance assumption holds at all
      // (classic ANOVA compares MEANS; this runs the same F machinery
      // on |value − group median|, robust to the heavy tails the MAD
      // query flags). All-integer: deviations live in 2×-cent units
      // (2·median of longs is always integral where the median itself
      // can be x.5), Σd/Σd² accumulate in DECIMAL(38,0), group-term
      // ratios go through the wide half-up division, F is ONE double
      // expression at the end (q_events_anova's exact posture).
      // Scale shape: one median per group (percentile agg), one
      // broadcast join back, one conditional hash-agg — the corpus is
      // scanned twice and shuffled never (group keys only).
      "q_stats_levene",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val med = e.groupBy(col("event_type"))
          .agg((percentile(col("vc"), lit(0.5)) * 2).cast("long")
                 .as("m2"))
          .select(col("event_type").as("t1"), col("m2"))
        val dv = e.join(broadcast(med), col("event_type") === col("t1"))
          .select(col("event_type"),
                  abs(col("vc") * 2 - col("m2")).as("dd"))
        val dD = col("dd").cast(D38)
        val grp = dv.groupBy(col("event_type"))
          .agg(count(lit(1)).as("ng"),
               sum(col("dd")).as("sg"),
               (sum(dD * dD) * 10000).cast(D38).as("ss4"))
          .select(col("ng"), col("sg"), col("ss4"),
                  halfUpDivWideDec(col("sg").cast(D38) * col("sg") * 10000,
                                   col("ng")).as("tg"))
        grp.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
                sum(col("sg")).as("st"), sum(col("ss4")).as("sss4"),
                sum(col("tg")).as("sumt"))
          .select(col("k"), col("n"), col("sss4"), col("sumt"),
                  halfUpDivWideDec(col("st").cast(D38) * col("st") * 10000,
                                   col("n")).as("tall"))
          .select(col("k").as("n_groups"), col("n"),
                  greatest(col("sumt") - col("tall"), lit(0L))
                    .cast(D38).as("ssb4"),
                  greatest(col("sss4") - col("sumt").cast(D38),
                           lit(0L).cast(D38)).as("ssw4"))
          .select(col("n_groups"), col("n"),
                  round((col("ssb4").cast("double") *
                         (col("n") - col("n_groups")).cast("double")) /
                        (col("ssw4").cast("double") *
                         (col("n_groups") - 1).cast("double")), 4)
                    .as("bf_stat"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |med AS (
        |  SELECT event_type,
        |    CAST(quantile_cont(vc, 0.5) * 2 AS BIGINT) AS m2
        |  FROM e GROUP BY event_type),
        |dv AS (
        |  SELECT e.event_type, abs(vc * 2 - m2) AS dd
        |  FROM e JOIN med USING (event_type)),
        |grp AS (
        |  SELECT event_type, COUNT(*) AS ng,
        |    CAST(SUM(dd) AS HUGEINT) AS sg,
        |    CAST(SUM(CAST(dd AS HUGEINT) * dd) * 10000 AS HUGEINT)
        |      AS ss4
        |  FROM dv GROUP BY event_type),
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
        |  round((CAST(ssb4 AS DOUBLE) * CAST(n - n_groups AS DOUBLE)) /
        |        (CAST(ssw4 AS DOUBLE) * CAST(n_groups - 1 AS DOUBLE)),
        |        4) + 0 AS bf_stat
        |FROM g3""".stripMargin),

    Q(
      // Tukey HSD post-hoc: WHICH language mean doc-lengths differ,
      // after an ANOVA says "some do" — every i<j pair's |mean
      // difference| against the honest-significant-difference
      // threshold q·√(MSW·(1/nᵢ+1/nⱼ)/2). The studentized-range
      // critical value q(k=5, df=∞, α=.10)=3.478 is a FROZEN literal
      // (the NDCG-discount-table discipline — never each engine's own
      // stats library). Means/SSW come from the exact anchored
      // integer moments (anova posture); the boolean verdict compares
      // two bit-identical doubles, so it cannot flap cross-engine.
      // Domain + level chosen so the verdict column WORKS at bench
      // scale: zh runs ~18 chars longer than the other langs, so at
      // sf0.1 the zh pairs flip significant while near pairs stay
      // false — both branches are exercised, not a constant column.
      // Scale shape: one anchor pass + one conditional hash-agg to k
      // rows; the pair join is k²/2 on the 5-row group frame.
      "q_stats_tukey_hsd",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.documents(s, d)
          .select(col("lang"), col("n_chars").as("vc"))
        val anchors = e.groupBy(col("lang"))
          .agg(min(col("vc")).as("a"))
          .select(col("lang").as("t1"), col("a"))
        val dd = (col("vc") - col("a")).cast(D38)
        val st = e.join(broadcast(anchors), col("lang") === col("t1"))
          .groupBy(col("lang"), col("a"))
          .agg(count(lit(1)).as("n"), sum(dd).as("sg"),
               (sum(dd * dd) * 10000).cast(D38).as("ss4"))
          .select(col("lang"), col("n"),
                  (col("a").cast("double") +
                   col("sg").cast("double") / col("n")).as("mc"),
                  (col("ss4") -
                   halfUpDivWideDec(col("sg").cast(D38) * col("sg") * 10000,
                                    col("n"))).cast(D38).as("ssg4"))
        val tot = st.agg(sum(col("ssg4")).cast("double").as("_ssw4"),
                         sum(col("n")).as("_nn"),
                         count(lit(1)).as("_k"))
        val a = st.select(col("lang").as("lang_a"),
                          col("n").as("n_a"), col("mc").as("m_a"))
        val b = st.select(col("lang").as("lang_b"),
                          col("n").as("n_b"), col("mc").as("m_b"))
        a.join(b, col("lang_a") < col("lang_b"))
          .crossJoin(broadcast(tot))
          .withColumn("hsdc",
            lit(3.478) * sqrt(
              (col("_ssw4") / 10000.0 /
               (col("_nn") - col("_k")).cast("double")) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")) / 2.0))
          .select(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"),
                  round(abs(col("m_a") - col("m_b")), 4).as("diff4"),
                  round(col("hsdc"), 4).as("hsd4"),
                  (abs(col("m_a") - col("m_b")) > col("hsdc"))
                    .as("significant"))
          .orderBy(col("lang_a"), col("lang_b"))
      },
      """WITH e AS (
        |  SELECT lang, n_chars AS vc FROM documents),
        |an AS (SELECT lang, MIN(vc) AS a FROM e GROUP BY lang),
        |st AS (
        |  SELECT e.lang, COUNT(*) AS n,
        |    CAST(a AS DOUBLE)
        |      + CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE)
        |        / COUNT(*) AS mc,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a)) * 10000
        |         - (2 * (CAST(SUM(CAST(vc - a AS HUGEINT)) AS HUGEINT)
        |                 * SUM(CAST(vc - a AS HUGEINT)) * 10000)
        |            + COUNT(*)) // (2 * COUNT(*))
        |      AS HUGEINT) AS ssg4
        |  FROM e JOIN an USING (lang)
        |  GROUP BY e.lang, a),
        |tot AS (
        |  SELECT CAST(SUM(ssg4) AS DOUBLE) AS ssw4,
        |    CAST(SUM(n) AS BIGINT) AS nn, COUNT(*) AS k
        |  FROM st)
        |SELECT a.lang AS lang_a, b.lang AS lang_b,
        |  a.n AS n_a, b.n AS n_b,
        |  round(abs(a.mc - b.mc), 4) + 0 AS diff4,
        |  round(3.478 * sqrt((ssw4 / 10000.0
        |                      / CAST(nn - k AS DOUBLE))
        |                     * (1.0 / a.n + 1.0 / b.n) / 2.0),
        |        4) + 0 AS hsd4,
        |  abs(a.mc - b.mc) > 3.478 * sqrt((ssw4 / 10000.0
        |                      / CAST(nn - k AS DOUBLE))
        |                     * (1.0 / a.n + 1.0 / b.n) / 2.0)
        |    AS significant
        |FROM st a JOIN st b ON a.lang < b.lang
        |CROSS JOIN tot
        |ORDER BY lang_a, lang_b""".stripMargin),

    Q(
      // A/B sample-size planner (the "how long must this experiment
      // run" calculator): for click-vs-view value, the per-group n
      // needed to detect the OBSERVED effect at α=.05 two-sided /
      // 80% power under the two-sample z approximation — n =
      // ⌈(z_{α/2}+z_β)²·(v₁+v₂)/δ²⌉ with the z-sum squared FROZEN at
      // 7.849 (z=1.960, 0.842 — literal constants, never an inverse-
      // CDF call that each engine computes differently). Variances
      // and means from exact anchored integer moments; the ceil acts
      // on bit-identical doubles. Reports whether the current sample
      // is already powered.
      // Scale shape: q_events_ab_ttest's two-group anchored hash-agg;
      // everything after is a 1×1 cross join.
      "q_stats_power",
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
                           (col("n") - 1), lit(0.0)).as("v2"))
        val g1 = st.filter(col("event_type") === "click")
          .select(col("n").as("n_click"), col("mc").as("m1"),
                  col("v2").as("v1"))
        val g2 = st.filter(col("event_type") === "view")
          .select(col("n").as("n_view"), col("mc").as("m2"),
                  col("v2").as("v2"))
        g1.crossJoin(g2)
          // δ=0 would ride a ∞ into the long cast, where Spark
          // saturates and DuckDB raises — make "no observed effect"
          // the SAME null on both engines instead
          .withColumn("nreq",
            when(col("m1") =!= col("m2"),
              ceil(lit(7.849) * (col("v1") + col("v2")) /
                   ((col("m1") - col("m2")) * (col("m1") - col("m2"))))
                .cast("long")))
          .select(col("n_click"), col("n_view"),
                  round(abs(col("m1") - col("m2")) / 100.0, 4)
                    .as("observed_diff4"),
                  col("nreq").as("n_required"),
                  (col("n_click") >= col("nreq") &&
                   col("n_view") >= col("nreq")).as("powered_now"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events WHERE event_type IN ('click', 'view')),
        |an AS (SELECT event_type, MIN(vc) AS a FROM e
        |       GROUP BY event_type),
        |st AS (
        |  SELECT e.event_type, COUNT(*) AS n,
        |    CAST(a AS DOUBLE)
        |      + CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE)
        |        / COUNT(*) AS mc,
        |    greatest(
        |      (CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a)) AS DOUBLE)
        |       - CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE)
        |         * CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE)
        |         / COUNT(*))
        |      / (COUNT(*) - 1), 0.0) AS v2
        |  FROM e JOIN an USING (event_type)
        |  GROUP BY e.event_type, a),
        |g1 AS (SELECT n AS n_click, mc AS m1, v2 AS v1 FROM st
        |       WHERE event_type = 'click'),
        |g2 AS (SELECT n AS n_view, mc AS m2, v2 AS v2x FROM st
        |       WHERE event_type = 'view'),
        |j AS (
        |  SELECT n_click, n_view, m1, m2, v1, v2x,
        |    CASE WHEN m1 <> m2 THEN
        |      CAST(ceil(7.849 * (v1 + v2x) / ((m1 - m2) * (m1 - m2)))
        |           AS BIGINT) END AS nreq
        |  FROM g1 CROSS JOIN g2)
        |SELECT n_click, n_view,
        |  round(abs(m1 - m2) / 100.0, 4) + 0 AS observed_diff4,
        |  nreq AS n_required,
        |  n_click >= nreq AND n_view >= nreq AS powered_now
        |FROM j""".stripMargin),

    Q(
      // Mann–Kendall trend TEST on the daily volume series — the
      // significance companion to q_ts_theil_sen's robust slope (the
      // standard pairing in monitoring: Theil–Sen says how steep,
      // Mann–Kendall says whether it's real): S = Σ_{i<j}
      // sign(yⱼ−yᵢ) with the exact tie-corrected variance 18·Var =
      // n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), both pure integers; the
      // continuity-corrected Z is ONE double expression at the end.
      // Scale shape: the corpus collapses to the bounded day domain
      // first (theil_sen posture), the O(n²) pair join and the
      // tie-size agg both run on that ~30-row frame.
      "q_stats_mann_kendall",
      (s, d) => {
        // r13 (guide §1.1, TRIED AND REVERTED): the theil_sen-style
        // seam on daily measured 0.77× at sf0.1 / 0.79× at sf1 here
        // (only 3 duplicate scans to save vs theil_sen's 10 — the
        // materialization overhead exceeds the dedup win at this
        // multiplicity; plans/r13/ab/b3_*/b4_*)
        val daily = Tables.events(s, d)
          .select(expr("ts_us div 86400000000").as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("y"))
        val a = daily.select(col("x").as("xi"), col("y").as("yi"))
        val b = daily.select(col("x").as("xj"), col("y").as("yj"))
        val sStat = a.join(b, col("xj") > col("xi"))
          .agg(sum(when(col("yj") > col("yi"), 1L)
                     .when(col("yj") < col("yi"), -1L)
                     .otherwise(0L)).as("s_stat"))
        val ties = daily.groupBy(col("y"))
          .agg(count(lit(1)).as("t"))
          .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
                 .as("tt"),
               sum(col("t")).as("n"))
        sStat.crossJoin(broadcast(ties))
          .select(col("n").as("n_days"), col("s_stat"),
                  (col("n") * (col("n") - 1) * (col("n") * 2 + 5) -
                   col("tt")).as("var18"))
          .select(col("n_days"), col("s_stat"), col("var18"),
                  r4(when(col("s_stat") > 0,
                       (col("s_stat") - 1).cast("double") /
                         sqrt(col("var18").cast("double") / 18.0))
                     .when(col("s_stat") < 0,
                       (col("s_stat") + 1).cast("double") /
                         sqrt(col("var18").cast("double") / 18.0))
                     .otherwise(lit(0.0))).as("z4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS x, COUNT(*) AS y
        |  FROM events GROUP BY epoch_us(ts) // 86400000000),
        |s AS (
        |  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
        |                       WHEN b.y < a.y THEN -1
        |                       ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON b.x > a.x),
        |t AS (
        |  SELECT CAST(SUM(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tt,
        |    CAST(SUM(t) AS BIGINT) AS n
        |  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y)),
        |g AS (
        |  SELECT n AS n_days, s_stat,
        |    n * (n - 1) * (n * 2 + 5) - tt AS var18
        |  FROM s CROSS JOIN t)
        |SELECT n_days, s_stat, var18,
        |  round(CASE WHEN s_stat > 0 THEN
        |          CAST(s_stat - 1 AS DOUBLE)
        |            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |        WHEN s_stat < 0 THEN
        |          CAST(s_stat + 1 AS DOUBLE)
        |            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |        ELSE 0.0 END, 4) + 0 AS z4
        |FROM g""".stripMargin),

    Q(
      // Wald–Wolfowitz RUNS test on the daily up/down sequence — "is
      // the series a random walk or does it trend/oscillate": signs
      // sᵗ = sign(yᵗ − yᵗ⁻¹) (zeros dropped), runs R = 1 + #sign
      // changes counted by a lag compare in day order, E[R] =
      // 1 + 2n₁n₂/n and Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) from the
      // exact integer up/down counts, Z one double. Too few moves
      // (n₁n₂ = 0 or n ≤ 1) yields the SAME null Z on both engines.
      // Scale shape: day-domain lag window only; the corpus is
      // touched by the one daily hash-agg.
      "q_stats_runs_test",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(expr("ts_us div 86400000000").as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("y"))
        val wd = Window.orderBy(col("x"))
        val sg = daily
          .withColumn("pv", lag(col("y"), 1).over(wd))
          .filter(col("pv").isNotNull && col("y") =!= col("pv"))
          .select(col("x"),
                  when(col("y") > col("pv"), 1).otherwise(-1).as("sg"))
        val ws = Window.orderBy(col("x"))
        val g = sg
          .withColumn("chg",
            when(lag(col("sg"), 1).over(ws).isNull, 1)
              .when(col("sg") =!= lag(col("sg"), 1).over(ws), 1)
              .otherwise(0))
          .agg(sum(when(col("sg") === 1, 1L).otherwise(0L)).as("n_up"),
               sum(when(col("sg") === -1, 1L).otherwise(0L))
                 .as("n_down"),
               sum(col("chg")).cast("long").as("n_runs"))
        val n = col("n_up") + col("n_down")
        val p2 = col("n_up") * col("n_down") * 2
        g.select(col("n_up"), col("n_down"), col("n_runs"),
                 r4(when(col("n_up") > 0 && col("n_down") > 0 &&
                         n > 1 && (p2 - n) > 0,
                      (col("n_runs").cast("double") -
                       (lit(1.0) + p2.cast("double") / n.cast("double")))
                        / sqrt(p2.cast("double") *
                               (p2 - n).cast("double") /
                               (n.cast("double") * n.cast("double") *
                                (n - 1).cast("double"))))).as("z4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS x, COUNT(*) AS y
        |  FROM events GROUP BY epoch_us(ts) // 86400000000),
        |sg AS (
        |  SELECT x, CASE WHEN y > pv THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT x, y, lag(y) OVER (ORDER BY x) AS pv
        |        FROM daily)
        |  WHERE pv IS NOT NULL AND y <> pv),
        |g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up,
        |    CAST(SUM(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_down,
        |    CAST(SUM(chg) AS BIGINT) AS n_runs
        |  FROM (
        |    SELECT sg,
        |      CASE WHEN lag(sg) OVER (ORDER BY x) IS NULL THEN 1
        |           WHEN sg <> lag(sg) OVER (ORDER BY x) THEN 1
        |           ELSE 0 END AS chg
        |    FROM sg))
        |SELECT n_up, n_down, n_runs,
        |  round(CASE WHEN n_up > 0 AND n_down > 0
        |              AND n_up + n_down > 1
        |              AND 2 * n_up * n_down - (n_up + n_down) > 0
        |        THEN (CAST(n_runs AS DOUBLE)
        |              - (1.0 + CAST(2 * n_up * n_down AS DOUBLE)
        |                   / CAST(n_up + n_down AS DOUBLE)))
        |             / sqrt(CAST(2 * n_up * n_down AS DOUBLE)
        |                    * CAST(2 * n_up * n_down
        |                           - (n_up + n_down) AS DOUBLE)
        |                    / (CAST(n_up + n_down AS DOUBLE)
        |                       * CAST(n_up + n_down AS DOUBLE)
        |                       * CAST(n_up + n_down - 1 AS DOUBLE)))
        |        END, 4) + 0 AS z4
        |FROM g""".stripMargin),

    Q(
      // Higher-moment shape profile per event type: sample skewness
      // g₁ = (m₃/n)/(m₂/n)^1.5 and excess kurtosis g₂ = n·m₄/m₂² − 3
      // from EXACT anchored central-moment ingredients — Σd, Σd², Σd³,
      // Σd⁴ accumulate as DECIMAL(38,0) over per-type MIN-anchored
      // cents (d ≤ value spread, d⁴·n ≈ 10²² at sf0.1 — room to
      // ~10¹⁶ rows), the central m₂/m₃/m₄ assembled by the standard
      // raw→central identities in doubles from those exact integers,
      // ONE identical expression tree on both engines. The tails/
      // asymmetry numbers a value-distribution monitor alarms on,
      // completing mean/var (q_agg_stats) → median/MAD → skew/kurt.
      // Scale shape: one anchor pass + one hash-agg; k-row math after.
      "q_agg_skew_kurtosis",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val anchors = e.groupBy(col("event_type"))
          .agg(min(col("vc")).as("a"))
          .select(col("event_type").as("t1"), col("a"))
        val dd = (col("vc") - col("a")).cast(D38)
        val g = e.join(broadcast(anchors), col("event_type") === col("t1"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(dd).cast("double").as("s1"),
               sum(dd * dd).cast("double").as("s2"),
               sum(dd * dd * dd).cast("double").as("s3"),
               sum(dd * dd * dd * dd).cast("double").as("s4"))
        val nD = col("n").cast("double")
        val mu = col("s1") / nD
        val m2 = col("s2") / nD - mu * mu
        val m3 = col("s3") / nD - mu * col("s2") / nD * 3 +
                 mu * mu * mu * 2
        val m4 = col("s4") / nD - mu * col("s3") / nD * 4 +
                 mu * mu * col("s2") / nD * 6 -
                 mu * mu * mu * mu * 3
        g.select(col("event_type"), col("n"),
                 r4(m3 / sqrt(m2 * m2 * m2)).as("skew4"),
                 r4(m4 / (m2 * m2) - 3.0).as("kurtosis4"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |an AS (SELECT event_type, MIN(vc) AS a FROM e
        |       GROUP BY event_type),
        |g AS (
        |  SELECT e.event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a)) AS DOUBLE)
        |      AS s2,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a) * (vc - a))
        |         AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a) * (vc - a)
        |             * (vc - a)) AS DOUBLE) AS s4
        |  FROM e JOIN an USING (event_type)
        |  GROUP BY e.event_type),
        |c AS (
        |  SELECT event_type, n,
        |    s1 / n AS mu, s2, s3, s4, CAST(n AS DOUBLE) AS nd
        |  FROM g),
        |mm AS (
        |  SELECT event_type, n,
        |    s2 / nd - mu * mu AS m2,
        |    s3 / nd - mu * s2 / nd * 3 + mu * mu * mu * 2 AS m3,
        |    s4 / nd - mu * s3 / nd * 4 + mu * mu * s2 / nd * 6
        |      - mu * mu * mu * mu * 3 AS m4
        |  FROM c)
        |SELECT event_type, n,
        |  round(m3 / sqrt(m2 * m2 * m2), 4) + 0 AS skew4,
        |  round(m4 / (m2 * m2) - 3.0, 4) + 0 AS kurtosis4
        |FROM mm ORDER BY event_type""".stripMargin),

    Q(
      // MAX DRAWDOWN of the daily-revenue series — the worst
      // peak-to-trough fall from any running high, THE risk/stability
      // number next to a trend report (NOT on the cumulative curve:
      // a cumsum of positive revenue is monotone and its drawdown is
      // identically 0 — the level series is what can fall). Exact
      // integer cents: running max via a frame-ordered window,
      // drawdown = peak − rev, the worst row picked by (drawdown
      // DESC, day ASC) rank so ties resolve identically cross-engine,
      // and the drawdown FRACTION derived integrally via intRatio4
      // (an argmax-style peak-day pick through max_by would be
      // tie-ambiguous — everything emitted here is rank- or
      // integer-decided).
      // Scale shape: corpus → day domain in one hash-agg; every
      // window runs over the ~2,400-row orders day domain (the
      // ~30-row frames are the events-based queries) — bounded by
      // the calendar either way, never by the corpus.
      "q_win_drawdown",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .select(expr(
              "unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000").as("day"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("day")).agg(sum(col("vc")).as("rev"))
        val wc = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cur = daily
          .withColumn("peak", max(col("rev")).over(wc))
          .withColumn("dd", col("peak") - col("rev"))
        val wr = Window.orderBy(col("dd").desc, col("day").asc)
        cur.withColumn("rn", row_number().over(wr))
          .filter(col("rn") === 1)
          .select(col("day").as("trough_day"),
                  (col("dd").cast("double") / 100.0).as("max_drawdown"),
                  (col("peak").cast("double") / 100.0).as("peak_rev"),
                  (col("rev").cast("double") / 100.0).as("trough_rev"),
                  intRatio4(col("dd") * 10000L, col("peak"))
                    .as("dd_frac4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS rev
        |  FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000),
        |cur AS (
        |  SELECT day, rev,
        |    MAX(rev) OVER (ORDER BY day
        |                   ROWS BETWEEN UNBOUNDED PRECEDING
        |                   AND CURRENT ROW) AS peak
        |  FROM daily),
        |dd AS (
        |  SELECT day, rev, peak, peak - rev AS dd,
        |    row_number() OVER (ORDER BY peak - rev DESC, day ASC)
        |      AS rn
        |  FROM cur)
        |SELECT day AS trough_day,
        |  CAST(dd AS DOUBLE) / 100.0 AS max_drawdown,
        |  CAST(peak AS DOUBLE) / 100.0 AS peak_rev,
        |  CAST(rev AS DOUBLE) / 100.0 AS trough_rev,
        |  CAST((2 * (dd * 10000) + peak) // (2 * peak) AS DOUBLE)
        |    / 10000.0 AS dd_frac4
        |FROM dd WHERE rn = 1""".stripMargin),

    Q(
      // RSI (relative-strength index, SMA-14 variant) of the daily
      // revenue series — the momentum oscillator read next to the
      // drawdown number: day-over-day gains/losses as exact integer
      // cents, 14-day rolling sums G/L via ROWS frames, and the
      // identity RSI = 100·G/(G+L) keeps the WHOLE statistic rational
      // — one wide half-up division, zero floats anywhere (the
      // textbook 100 − 100/(1+RS) form would float-divide twice).
      // Wilder's recursive smoothing is deliberately swapped for the
      // SMA window: the recursion is sequential state (documented),
      // the SMA is a pure frame aggregate — and at day ≥ 15 both
      // agree in rank ordering. Flat 14-day stretches (G+L=0) yield
      // the SAME null on both engines.
      // Scale shape: corpus → day domain (orders span ~2400 days);
      // the unpartitioned ROWS-frame window runs on that bounded
      // domain frame, never the corpus.
      "q_win_rsi",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .select(expr(
              "unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000").as("day"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("day")).agg(sum(col("vc")).as("rev"))
        val wd = Window.orderBy(col("day"))
        val w14 = Window.orderBy(col("day")).rowsBetween(-13, 0)
        val gl = daily
          .withColumn("diff", col("rev") - lag(col("rev"), 1).over(wd))
          .filter(col("diff").isNotNull)
          .withColumn("gain", greatest(col("diff"), lit(0L)))
          .withColumn("loss", greatest(-col("diff"), lit(0L)))
          .withColumn("g14", sum(col("gain")).over(w14))
          .withColumn("l14", sum(col("loss")).over(w14))
          .withColumn("rn", row_number().over(wd))
        gl.filter(col("rn") >= 14)
          .select(col("day"),
                  when(col("g14") + col("l14") > 0,
                    intRatio4Wide(col("g14") * 100L * 10000L,
                                  col("g14") + col("l14"))).as("rsi4"))
          .orderBy(col("day"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS rev
        |  FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000),
        |df AS (
        |  SELECT day, rev - lag(rev) OVER (ORDER BY day) AS diff
        |  FROM daily),
        |gl AS (
        |  SELECT day,
        |    greatest(diff, 0) AS gain, greatest(-diff, 0) AS loss
        |  FROM df WHERE diff IS NOT NULL),
        |r AS (
        |  SELECT day,
        |    SUM(gain) OVER w AS g14, SUM(loss) OVER w AS l14,
        |    row_number() OVER (ORDER BY day) AS rn
        |  FROM gl
        |  WINDOW w AS (ORDER BY day
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT day,
        |  CASE WHEN g14 + l14 > 0 THEN
        |    CAST((2 * (CAST(g14 AS HUGEINT) * 100 * 10000)
        |          + (g14 + l14))
        |         // (2 * CAST(g14 + l14 AS HUGEINT)) AS DOUBLE)
        |      / 10000.0
        |  END AS rsi4
        |FROM r WHERE rn >= 14
        |ORDER BY day""".stripMargin),

    Q(
      // Seasonal-strength via NAIVE-FORECAST errors (the MASE
      // building blocks): MAE of the lag-7 seasonal-naive forecast vs
      // MAE of the lag-1 naive on daily revenue — ratio < 1 means
      // "last week's same-day beats yesterday", i.e. real weekly
      // seasonality, and it is THE denominator convention forecast
      // evaluation (MASE) standardizes on. All integer cents: the
      // two absolute-error sums are exact, the ratio of means
      // (S7·n1)/(S1·n7) is ONE wide half-up division — no float MAE
      // anywhere.
      // Scale shape: corpus → day domain; two lag windows on the
      // bounded day frame; 1-row output.
      "q_ts_mase",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .select(expr(
              "unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000").as("day"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("day")).agg(sum(col("vc")).as("rev"))
        val wd = Window.orderBy(col("day"))
        val er = daily
          .withColumn("e1", abs(col("rev") - lag(col("rev"), 1)
                                  .over(wd)))
          .withColumn("e7", abs(col("rev") - lag(col("rev"), 7)
                                  .over(wd)))
        val g = er.agg(
          sum(col("e1")).as("s1"), count(col("e1")).as("n1"),
          sum(col("e7")).as("s7"), count(col("e7")).as("n7"))
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        g.select(col("n1"), col("n7"),
                 (col("s1").cast("double") / col("n1") / 100.0)
                   .as("mae_naive"),
                 (col("s7").cast("double") / col("n7") / 100.0)
                   .as("mae_seasonal"),
                 intRatio4Wide(
                   col("s7").cast(D) * col("n1") * 10000,
                   col("s1").cast(D) * col("n7")).as("ratio4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS rev
        |  FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000),
        |er AS (
        |  SELECT day,
        |    abs(rev - lag(rev, 1) OVER (ORDER BY day)) AS e1,
        |    abs(rev - lag(rev, 7) OVER (ORDER BY day)) AS e7
        |  FROM daily),
        |g AS (
        |  SELECT CAST(SUM(e1) AS HUGEINT) AS s1, COUNT(e1) AS n1,
        |    CAST(SUM(e7) AS HUGEINT) AS s7, COUNT(e7) AS n7
        |  FROM er)
        |SELECT n1, n7,
        |  CAST(s1 AS DOUBLE) / n1 / 100.0 AS mae_naive,
        |  CAST(s7 AS DOUBLE) / n7 / 100.0 AS mae_seasonal,
        |  CAST((2 * (s7 * n1 * 10000) + s1 * n7)
        |       // (2 * (s1 * n7)) AS DOUBLE) / 10000.0 AS ratio4
        |FROM g""".stripMargin),

    Q(
      // BOLLINGER-band breaches of daily revenue (20-day window, 2σ),
      // decided ENTIRELY in integers: |x−μ| > 2σ cross-multiplies to
      // (n·x − S)²·(n−1) > 4·n·(n·Q − S²) over exact rolling cent
      // sums S/Q — no rolling float mean, no sqrt, no band value that
      // could round differently per engine; the flag itself is the
      // integer comparison (the q_events_outliers idea, made ROLLING
      // — a fixed global σ can't see regime changes, the rolling band
      // adapts). Emits the breach days with side and the exact
      // z²-numerator pair for audit.
      // Scale shape: corpus → day domain; ROWS-frame windows on the
      // bounded (~2400-row) day frame.
      "q_win_bollinger",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val daily = Tables.orders(s, d)
          .select(expr(
              "unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000").as("day"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("day")).agg(sum(col("vc")).as("rev"))
        val w20 = Window.orderBy(col("day")).rowsBetween(-19, 0)
        val wd = Window.orderBy(col("day"))
        val r = daily
          .withColumn("n", count(lit(1)).over(w20))
          .withColumn("s", sum(col("rev")).over(w20).cast(D))
          .withColumn("q", sum(col("rev").cast(D) * col("rev"))
                             .over(w20))
          .withColumn("rn", row_number().over(wd))
          .filter(col("rn") >= 20)
        val dev = col("n").cast(D) * col("rev") - col("s")
        val lhs = dev * dev * (col("n") - 1)
        val rhs = (col("n").cast(D) * 4) *
                  (col("n").cast(D) * col("q") - col("s") * col("s"))
        r.filter(lhs > rhs)
          .select(col("day"),
                  (col("rev").cast("double") / 100.0).as("revenue"),
                  when(col("rev").cast(D) * col("n") > col("s"), "hi")
                    .otherwise("lo").as("side"))
          .orderBy(col("day"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS rev
        |  FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000),
        |r AS (
        |  SELECT day, rev,
        |    COUNT(*) OVER w AS n,
        |    CAST(SUM(rev) OVER w AS HUGEINT) AS s,
        |    CAST(SUM(CAST(rev AS HUGEINT) * rev) OVER w AS HUGEINT)
        |      AS q,
        |    row_number() OVER (ORDER BY day) AS rn
        |  FROM daily
        |  WINDOW w AS (ORDER BY day
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT day, CAST(rev AS DOUBLE) / 100.0 AS revenue,
        |  CASE WHEN CAST(rev AS HUGEINT) * n > s THEN 'hi'
        |       ELSE 'lo' END AS side
        |FROM r
        |WHERE rn >= 20
        |  AND (CAST(n AS HUGEINT) * rev - s)
        |      * (CAST(n AS HUGEINT) * rev - s) * (n - 1)
        |      > 4 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * q - s * s)
        |ORDER BY day""".stripMargin),

    Q(
      // JARQUE–BERA normality test per event type — the
      // distribution-shape gate composing the exact skew/kurtosis
      // moments (q_agg_skew_kurtosis's anchored Σd..Σd⁴ machinery)
      // into JB = n/6·(g₁² + g₂²/4): every parametric test in the
      // suite (t, ANOVA, Tukey) assumes roughly normal inputs, and
      // this is the number that says whether that assumption is even
      // in the room (value data is strongly right-skewed — JB
      // rejects hard, which is the honest reading). Moments exact;
      // JB one identical double tree; r4 at the end.
      // Scale shape: anchor pass + one hash-agg; k-row math after.
      "q_stats_jarque_bera",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = Tables.events(s, d)
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val anchors = e.groupBy(col("event_type"))
          .agg(min(col("vc")).as("a"))
          .select(col("event_type").as("t1"), col("a"))
        val dd = (col("vc") - col("a")).cast(D38)
        val g = e.join(broadcast(anchors), col("event_type") === col("t1"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(dd).cast("double").as("s1"),
               sum(dd * dd).cast("double").as("s2"),
               sum(dd * dd * dd).cast("double").as("s3"),
               sum(dd * dd * dd * dd).cast("double").as("s4"))
        val nD = col("n").cast("double")
        val mu = col("s1") / nD
        val m2 = col("s2") / nD - mu * mu
        val m3 = col("s3") / nD - mu * col("s2") / nD * 3 +
                 mu * mu * mu * 2
        val m4 = col("s4") / nD - mu * col("s3") / nD * 4 +
                 mu * mu * col("s2") / nD * 6 -
                 mu * mu * mu * mu * 3
        val g1 = m3 / sqrt(m2 * m2 * m2)
        val g2 = m4 / (m2 * m2) - 3.0
        g.select(col("event_type"), col("n"),
                 r4(nD / 6.0 * (g1 * g1 + g2 * g2 / 4.0)).as("jb4"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |an AS (SELECT event_type, MIN(vc) AS a FROM e
        |       GROUP BY event_type),
        |g AS (
        |  SELECT e.event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a)) AS DOUBLE)
        |      AS s2,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a) * (vc - a))
        |         AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a) * (vc - a)
        |             * (vc - a)) AS DOUBLE) AS s4
        |  FROM e JOIN an USING (event_type)
        |  GROUP BY e.event_type),
        |c AS (
        |  SELECT event_type, n, s1 / n AS mu, s2, s3, s4,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM g),
        |mm AS (
        |  SELECT event_type, n, nd,
        |    s2 / nd - mu * mu AS m2,
        |    s3 / nd - mu * s2 / nd * 3 + mu * mu * mu * 2 AS m3,
        |    s4 / nd - mu * s3 / nd * 4 + mu * mu * s2 / nd * 6
        |      - mu * mu * mu * mu * 3 AS m4
        |  FROM c)
        |SELECT event_type, n,
        |  round(nd / 6.0 * ((m3 / sqrt(m2 * m2 * m2))
        |                    * (m3 / sqrt(m2 * m2 * m2))
        |                    + (m4 / (m2 * m2) - 3.0)
        |                      * (m4 / (m2 * m2) - 3.0) / 4.0), 4) + 0
        |    AS jb4
        |FROM mm ORDER BY event_type""".stripMargin),

    Q(
      // SMA CROSSOVER signals (golden/death cross, 12/26-day) on
      // daily revenue — the classic trend-change trigger, decided
      // WITHOUT a single float: the sign of SMA₁₂ − SMA₂₆ is the
      // sign of the integer s₁₂·26 − s₂₆·12 (cross-multiplied
      // rolling cent sums), and a signal fires where that sign
      // differs from yesterday's — integers end to end, so a
      // crossing can never flap on float-mean rounding. Zero-diff
      // days carry sign 0 and fire on the next true sign change.
      // Scale shape: corpus → day domain; two ROWS frames + one lag
      // on the bounded day frame.
      "q_win_sma_cross",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val daily = Tables.orders(s, d)
          .select(expr(
              "unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000").as("day"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("day")).agg(sum(col("vc")).as("rev"))
        val w12 = Window.orderBy(col("day")).rowsBetween(-11, 0)
        val w26 = Window.orderBy(col("day")).rowsBetween(-25, 0)
        val wd = Window.orderBy(col("day"))
        val r = daily
          .withColumn("s12", sum(col("rev")).over(w12).cast(D))
          .withColumn("s26", sum(col("rev")).over(w26).cast(D))
          .withColumn("rn", row_number().over(wd))
          .filter(col("rn") >= 26)
          // sign decided on the DECIMAL comparison itself — a double
          // cast would be exact only below 2^53, an avoidable bound
          .withColumn("sg",
            when(col("s12") * 26 > col("s26") * 12, 1)
              .when(col("s12") * 26 < col("s26") * 12, -1)
              .otherwise(0))
          .withColumn("psg", lag(col("sg"), 1).over(wd))
        r.filter(col("psg").isNotNull && col("sg") =!= col("psg") &&
                 col("sg") =!= 0)
          .select(col("day"),
                  when(col("sg") > 0, "golden").otherwise("death")
                    .as("signal"))
          .orderBy(col("day"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS rev
        |  FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000),
        |r AS (
        |  SELECT day,
        |    CAST(SUM(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS HUGEINT)
        |      AS s12,
        |    CAST(SUM(rev) OVER (ORDER BY day
        |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW) AS HUGEINT)
        |      AS s26,
        |    row_number() OVER (ORDER BY day) AS rn
        |  FROM daily),
        |sg AS (
        |  SELECT day,
        |    CAST(CASE WHEN s12 * 26 > s26 * 12 THEN 1
        |              WHEN s12 * 26 < s26 * 12 THEN -1
        |              ELSE 0 END AS INT) AS sg
        |  FROM r WHERE rn >= 26),
        |x AS (
        |  SELECT day, sg, lag(sg) OVER (ORDER BY day) AS psg
        |  FROM sg)
        |SELECT day,
        |  CASE WHEN sg > 0 THEN 'golden' ELSE 'death' END AS signal
        |FROM x
        |WHERE psg IS NOT NULL AND sg <> psg AND sg <> 0
        |ORDER BY day""".stripMargin),

    Q(
      // GRUBBS test for the single most extreme daily revenue — the
      // formal "is the worst point an outlier" statistic (vs the
      // flagging sweeps of q_events_outliers/q_win_bollinger): the
      // candidate day is ARGMAX of |n·x − S| picked by exact integer
      // rank (deviation DESC, day ASC — never a float-argmax tie),
      // then G = |x−μ|/σ assembles as one double tree from the exact
      // moments. Emits the day, its value, and G.
      // Scale shape: corpus → day domain; 1-row totals broadcast; the
      // rank window runs on the bounded day frame.
      "q_stats_grubbs",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val daily = Tables.orders(s, d)
          .select(expr(
              "unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000").as("day"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("day")).agg(sum(col("vc")).as("rev"))
        val tot = daily.agg(count(lit(1)).as("n"),
                            sum(col("rev")).cast(D).as("s"),
                            sum(col("rev").cast(D) * col("rev"))
                              .as("q"))
        val dev = abs(col("rev").cast(D) * col("n") - col("s"))
        val wr = Window.orderBy(dev.desc, col("day"))
        daily.crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(wr))
          .filter(col("rk") === 1)
          .select(col("day"), col("n"),
                  (col("rev").cast("double") / 100.0).as("revenue"),
                  r4(abs(col("rev").cast("double") -
                         col("s").cast("double") / col("n")) /
                     sqrt((col("q").cast("double") -
                           col("s").cast("double") *
                           col("s").cast("double") / col("n")) /
                          (col("n") - 1))).as("g4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS rev
        |  FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000),
        |t AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(rev) AS HUGEINT) AS s,
        |    CAST(SUM(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS q
        |  FROM daily),
        |r AS (
        |  SELECT day, rev, n, s, q,
        |    row_number() OVER (
        |      ORDER BY abs(CAST(rev AS HUGEINT) * n - s) DESC, day)
        |      AS rk
        |  FROM daily CROSS JOIN t)
        |SELECT day, n,
        |  CAST(rev AS DOUBLE) / 100.0 AS revenue,
        |  round(abs(CAST(rev AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |        / sqrt((CAST(q AS DOUBLE)
        |                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |               / (n - 1)), 4) + 0 AS g4
        |FROM r WHERE rk = 1""".stripMargin),

    Q(
      // Paired SIGN test week-over-week: is daily revenue higher than
      // the same weekday last week more often than chance — the
      // assumption-free paired companion to Mann–Kendall (MK sees
      // monotone trend; the sign test sees a consistent weekly
      // up-shift even in noisy, non-monotone data). S⁺/S⁻ are exact
      // integer counts from a lag-7 compare (ties dropped, as the
      // textbook prescribes), the normal-approximation z =
      // (2S⁺−n)/√n is ONE double at the end.
      // Scale shape: corpus → day domain; one lag window; 1-row out.
      "q_stats_sign_test",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .select(expr(
              "unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000").as("day"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("day")).agg(sum(col("vc")).as("rev"))
        val wd = Window.orderBy(col("day"))
        val g = daily
          .withColumn("p7", lag(col("rev"), 7).over(wd))
          .filter(col("p7").isNotNull && col("rev") =!= col("p7"))
          .agg(sum(when(col("rev") > col("p7"), 1L).otherwise(0L))
                 .as("s_plus"),
               sum(when(col("rev") < col("p7"), 1L).otherwise(0L))
                 .as("s_minus"))
        g.select(col("s_plus"), col("s_minus"),
                 r4((col("s_plus") * 2 -
                     (col("s_plus") + col("s_minus"))).cast("double") /
                    sqrt((col("s_plus") + col("s_minus"))
                           .cast("double"))).as("z4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS rev
        |  FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000),
        |l AS (
        |  SELECT day, rev, lag(rev, 7) OVER (ORDER BY day) AS p7
        |  FROM daily),
        |g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN rev > p7 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS s_plus,
        |    CAST(SUM(CASE WHEN rev < p7 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS s_minus
        |  FROM l WHERE p7 IS NOT NULL AND rev <> p7)
        |SELECT s_plus, s_minus,
        |  round(CAST(s_plus * 2 - (s_plus + s_minus) AS DOUBLE)
        |        / sqrt(CAST(s_plus + s_minus AS DOUBLE)), 4) + 0
        |    AS z4
        |FROM g""".stripMargin),

    Q(
      // KISH effective sample size of the length-weighted document
      // sample, per source: ESS = (Σw)²/Σw² — how many EQUAL-weight
      // docs a token-weighted corpus is really worth (the design-
      // effect number behind every weighted metric's error bar; a
      // few giant docs can make a 1000-doc source behave like 50).
      // Weights = n_chars, pure integers: both the square of the sum
      // and the sum of squares live in DECIMAL(38,0), ESS and the
      // ESS/n efficiency are wide half-up divisions — no float
      // anywhere.
      // Scale shape: one source-keyed hash-agg; k-row math after.
      "q_stats_kish",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val g = Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
               sum(col("n_chars")).as("sw"),
               sum(col("n_chars").cast(D) * col("n_chars")).as("sw2"))
        g.select(col("source"), col("n"),
                 intRatio4Wide(
                   col("sw").cast(D) * col("sw") * 10000,
                   col("sw2")).as("ess4"),
                 intRatio4Wide(
                   col("sw").cast(D) * col("sw") * 10000,
                   col("sw2") * col("n")).as("efficiency4"))
          .orderBy(col("source"))
      },
      """WITH g AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS HUGEINT) AS sw,
        |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT)
        |      AS sw2
        |  FROM documents GROUP BY source)
        |SELECT source, n,
        |  CAST((2 * (sw * sw * 10000) + sw2) // (2 * sw2) AS DOUBLE)
        |    / 10000.0 AS ess4,
        |  CAST((2 * (sw * sw * 10000) + sw2 * n)
        |       // (2 * (sw2 * n)) AS DOUBLE) / 10000.0
        |    AS efficiency4
        |FROM g ORDER BY source""".stripMargin),

    Q(
      // CIRCULAR (directional) statistics of activity hour per event
      // type: the mean DIRECTION of the 24h clock and the resultant
      // length R — arithmetic means are wrong on a circle (23:00 and
      // 01:00 average to midnight, not noon), and R ∈ [0,1] is the
      // concentration number (1 = all activity at one hour, 0 =
      // uniform). The 24 unit vectors are a FROZEN integer table
      // (round(cos/sin·10⁶) literals — the NDCG-discount discipline,
      // no engine trig on data), so Σcos/Σsin are EXACT integer
      // sums; only the final atan2/sqrt run on those bit-identical
      // integers. Mean hour reported in 1e-4 hours via the identical
      // atan2 tree on both engines.
      // Scale shape: one (type, hour) hash-agg to ≤120 rows; the
      // trig table joins broadcast.
      "q_stats_circular_hour",
      (s, d) => {
        val cosT = (0 until 24).map(h =>
          math.round(math.cos(2 * math.Pi * h / 24) * 1000000))
        val sinT = (0 until 24).map(h =>
          math.round(math.sin(2 * math.Pi * h / 24) * 1000000))
        val hcnt = Tables.events(s, d)
          .select(col("event_type"),
                  expr("(ts_us div 3600000000) % 24").cast("int")
                    .as("h"))
          .groupBy(col("event_type"), col("h"))
          .agg(count(lit(1)).as("c"))
        val g = hcnt
          .withColumn("cosv", element_at(typedLit(cosT), col("h") + 1))
          .withColumn("sinv", element_at(typedLit(sinT), col("h") + 1))
          .groupBy(col("event_type"))
          .agg(sum(col("c")).as("n"),
               sum(col("c") * col("cosv")).as("sc"),
               sum(col("c") * col("sinv")).as("ss"))
        g.select(col("event_type"), col("n"),
                 r4((atan2(col("ss").cast("double"),
                           col("sc").cast("double")) * 12.0 /
                     math.Pi + 24.0) % 24.0).as("mean_hour4"),
                 r4(sqrt(col("sc").cast("double") *
                         col("sc").cast("double") +
                         col("ss").cast("double") *
                         col("ss").cast("double")) /
                    (col("n").cast("double") * 1000000.0)).as("r4"))
          .orderBy(col("event_type"))
      },
      {
        val cosRows = (0 until 24).map(h =>
          s"($h, ${math.round(math.cos(2 * math.Pi * h / 24) * 1000000)}, " +
          s"${math.round(math.sin(2 * math.Pi * h / 24) * 1000000)})")
          .mkString(", ")
        s"""WITH trig(h, cosv, sinv) AS (VALUES $cosRows),
          |hc AS (
          |  SELECT event_type,
          |    CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS h,
          |    COUNT(*) AS c
          |  FROM events GROUP BY 1, 2),
          |g AS (
          |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
          |    CAST(SUM(c * cosv) AS BIGINT) AS sc,
          |    CAST(SUM(c * sinv) AS BIGINT) AS ss
          |  FROM hc JOIN trig USING (h)
          |  GROUP BY event_type)
          |SELECT event_type, n,
          |  round((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
          |         * 12.0 / pi() + 24.0) % 24.0, 4) + 0 AS mean_hour4,
          |  round(sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
          |             + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
          |        / (CAST(n AS DOUBLE) * 1000000.0), 4) + 0 AS r4
          |FROM g ORDER BY event_type""".stripMargin
      }),

    Q(
      // TIME UNDERWATER: how long the daily revenue series spends
      // below its running high — the duration companion to
      // q_win_drawdown's depth (investors and SLO owners both ask
      // "how BAD" and "for how LONG"): every day either sets a new
      // running peak or extends the current underwater spell; spells
      // are the islands between peak days (cumsum of exact integer
      // peak flags), and the report is peaks, worst spell length +
      // its start day (rank-deterministic), and total underwater
      // days. Pure integers end to end.
      // Scale shape: corpus → day domain; two ordered windows on the
      // bounded day frame; 1-row out.
      "q_win_underwater",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .select(expr(
              "unix_micros(cast(o_orderdate as timestamp)) " +
              "div 86400000000").as("day"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("day")).agg(sum(col("vc")).as("rev"))
        val wc = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wd = Window.orderBy(col("day"))
        val r = daily
          .withColumn("peak", max(col("rev")).over(wc))
          .withColumn("np", when(col("rev") === col("peak"), 1L)
                              .otherwise(0L))
          .withColumn("grp", sum(col("np")).over(wc))
        val spells = r.filter(col("np") === 0)
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("len"), min(col("day")).as("start"))
        val wr = Window.orderBy(col("len").desc, col("start"))
        val worst = spells.withColumn("rk", row_number().over(wr))
          .filter(col("rk") === 1)
          .select(col("len").as("_wl"), col("start").as("_wsd"))
        r.agg(sum(col("np")).as("n_peaks"),
              sum(lit(1L) - col("np")).as("underwater_days"))
          .crossJoin(broadcast(worst))
          .select(col("n_peaks"), col("underwater_days"),
                  col("_wl").as("worst_spell_days"),
                  col("_wsd").as("worst_spell_start"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS rev
        |  FROM orders GROUP BY epoch_us(o_orderdate) // 86400000000),
        |p AS (
        |  SELECT day, rev,
        |    CASE WHEN rev = MAX(rev) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    THEN 1 ELSE 0 END AS np
        |  FROM daily),
        |r AS (
        |  SELECT day, rev, np,
        |    SUM(np) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS grp
        |  FROM p),
        |sp AS (
        |  SELECT grp, COUNT(*) AS len, MIN(day) AS start
        |  FROM r WHERE np = 0 GROUP BY grp),
        |worst AS (
        |  SELECT len AS wl, start AS wsd FROM (
        |    SELECT len, start,
        |      row_number() OVER (ORDER BY len DESC, start) AS rk
        |    FROM sp) WHERE rk = 1),
        |g AS (
        |  SELECT CAST(SUM(np) AS BIGINT) AS n_peaks,
        |    CAST(SUM(1 - np) AS BIGINT) AS underwater_days
        |  FROM r)
        |SELECT n_peaks, underwater_days,
        |  worst.wl AS worst_spell_days,
        |  worst.wsd AS worst_spell_start
        |FROM g CROSS JOIN worst""".stripMargin)
  )
}
