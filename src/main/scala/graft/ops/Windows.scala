package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.5 (window functions).
  *
  * Determinism: every window ORDER BY carries a unique tiebreaker key so
  * row_number/ntile/lag are well-defined; rank/dense_rank are exercised
  * over real ties (priority within status) which are deterministic by
  * definition. Scale: windows shuffle once on the partition key; the
  * partition keys chosen (custkey, user_id, event_type) are the natural
  * high-cardinality or bounded keys a real pipeline would use.
  */
object Windows extends OpGroup {

  /** The ONE copy of q_win_time_range's frame width — the Spark
    * rangeBetween bound and the oracle's RANGE literal both read it,
    * so the two sides cannot drift apart. */
  private val HourUs = 3600000000L

  def qs: Seq[Q] = Seq(
    Q(
      "q_win_rownum",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
                  row_number().over(w).as("rn"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    Q(
      "q_win_rank",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_orderpriority"))
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
                  col("o_orderpriority"),
                  rank().over(w).cast("int").as("rnk"),
                  dense_rank().over(w).cast("int").as("drnk"))
          .orderBy(col("o_orderkey"))
      },
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |  CAST(RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS INTEGER) AS rnk,
        |  CAST(DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS INTEGER) AS drnk
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Q(
      "q_win_lag_lead",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts_us"),
                  lag(col("ts_us"), 1).over(w).as("prev_us"),
                  lead(col("ts_us"), 1).over(w).as("next_us"),
                  (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"))
          .orderBy(col("event_id"))
      },
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  LAG(epoch_us(ts), 1) OVER w AS prev_us,
        |  LEAD(epoch_us(ts), 1) OVER w AS next_us,
        |  epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY event_id""".stripMargin),

    Q(
      "q_win_frame_rows",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-2, Window.currentRow)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
                  asMoney(sum(money("o_totalprice")).over(w)).as("moving_sum"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS moving_sum
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    Q(
      // RANGE frame: peers (tied values) all included — deterministic
      // under ties by construction. Null ordering pinned explicitly:
      // Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST — latent
      // cross-engine divergence if value were ever null
      "q_win_frame_range",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(asc_nulls_first("value"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"),
                  asMoney(sum(money("value")).over(w)).as("running_sum"))
          .orderBy(col("event_id"))
      },
      """SELECT event_id, event_type, value,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY event_type ORDER BY value ASC NULLS FIRST
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_sum
        |FROM events ORDER BY event_id""".stripMargin),

    Q(
      "q_win_ntile_pct",
      (s, d) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"),
                  ntile(4).over(w).as("quartile"),
                  r4(percent_rank().over(w)).as("pr"),
                  r4(cume_dist().over(w)).as("cd"))
          .orderBy(col("c_custkey"))
      },
      """SELECT c_custkey, c_mktsegment,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        |  ROUND(PERCENT_RANK() OVER w, 4) + 0 AS pr,
        |  ROUND(CUME_DIST() OVER w, 4) + 0 AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    Q(
      // trailing time-interval frame: per event, count + decimal sum of
      // the last hour of SAME-TYPE activity — RANGE over epoch-µs longs
      // (value-based bounds, so timestamp ties share one frame and the
      // result is deterministic in both engines). The per-event sliding
      // aggregate windowed streams can't express without a self-join;
      // one hash exchange on event_type, per-partition sort, O(frame)
      // running state.
      "q_win_time_range",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts_us"))
          .rangeBetween(-HourUs, 0)
        Tables.events(s, d)
          .select(col("event_type"), col("ts_us"), col("event_id"),
                  col("value"))
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("sum_1h", asMoney(sum(money("value")).over(w)))
          .select(col("event_type"), col("ts_us"), col("event_id"),
                  col("n_1h"), col("sum_1h"))
          .orderBy(col("event_type"), col("ts_us"), col("event_id"))
      },
      s"""SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) OVER w, 2)
        |    AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |             RANGE BETWEEN $HourUs PRECEDING
        |               AND CURRENT ROW)
        |ORDER BY event_type, ts_us, event_id""".stripMargin),

    Q(
      // share-of-total reporting ratios: grand total computed as a scalar
      // aggregate broadcast-joined back (NOT an empty OVER () window —
      // that moves every row to a single partition, a scale-killer
      // template even when the input happens to be small); per-status
      // share stays a keyed window. Integer counts through
      // exactly-rounded IEEE division, so portable without decimal casts
      "q_win_share_of_total",
      (s, d) => {
        val counts = Tables.orders(s, d)
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
        val total = counts.agg(sum(col("n")).as("grand_total"))
        counts
          .crossJoin(broadcast(total))
          .withColumn("pct_total", r4(col("n") / col("grand_total")))
          .withColumn("pct_in_status",
            r4(col("n") / sum(col("n"))
              .over(Window.partitionBy(col("o_orderstatus")))))
          .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
                  col("pct_total"), col("pct_in_status"))
          .orderBy(col("o_orderstatus"), col("o_orderpriority"))
      },
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
        |SELECT o_orderstatus, o_orderpriority, n,
        |  round(CAST(n AS DOUBLE) / SUM(n) OVER (), 4) + 0 AS pct_total,
        |  round(CAST(n AS DOUBLE) /
        |        SUM(n) OVER (PARTITION BY o_orderstatus), 4) + 0 AS pct_in_status
        |FROM c ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    Q(
      // navigation fns over a fully-framed window: first/last/nth order
      // key per customer by (date, key) — frame must be UNBOUNDED..UNBOUNDED
      // for last/nth to see the whole partition
      "q_win_first_last_nth",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
                  first(col("o_orderkey")).over(w).as("first_key"),
                  last(col("o_orderkey")).over(w).as("last_key"),
                  nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_key,
        |  LAST_VALUE(o_orderkey) OVER w AS last_key,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    Q(
      // EXACT rolling median (an ORDER-STATISTIC aggregate over a moving
      // frame — none of the other window queries exercise one): median
      // extendedprice of the last 5 shipments per part. Prices go
      // through exact integer cents so the only interpolation the
      // median ever does is (a+b)/2 on two ints < 2^53 — bit-identical
      // in both engines' doubles (sum ≤ 2^54 is exact, /2 is exact).
      // Scale: ONE shuffle on l_partkey; the frame is 5 rows so the
      // per-row median is O(frame log frame) regardless of corpus size.
      "q_win_rolling_median",
      (s, d) => {
        val w = Window.partitionBy(col("l_partkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(-4, Window.currentRow)
        Tables.lineitem(s, d)
          .filter(col("l_partkey") < 200)
          .withColumn("cents", cents("l_extendedprice"))
          .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
                  percentile(col("cents"), lit(0.5)).over(w).as("med5"))
          .orderBy(col("l_partkey"), col("l_orderkey"), col("l_linenumber"))
      },
      """SELECT l_partkey, l_orderkey, l_linenumber,
        |  QUANTILE_CONT(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |                     AS BIGINT), 0.5) OVER (
        |    PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5
        |FROM lineitem WHERE l_partkey < 200
        |ORDER BY l_partkey, l_orderkey, l_linenumber""".stripMargin),

    Q(
      // RUNNING DISTINCT count — the window surface Spark (and SQL)
      // lack natively (COUNT(DISTINCT) OVER is unsupported): distinct
      // users seen so far per event type, via a first-occurrence flag
      // summed cumulatively. The flag comes from lag(user) under the
      // SAME (type) partitioning as the cumulative sum, ordered
      // (user, ts): the first row of each user block is its earliest
      // event — so the plan is ONE hash exchange on type and two
      // in-partition sorts, instead of the naive (type,user)-keyed
      // row_number that would force a second shuffle. No distinct
      // state ever materializes beyond one bit per row.
      "q_win_running_distinct",
      (s, d) => {
        val wUser = Window.partitionBy(col("event_type"))
          .orderBy(col("user_id"), col("ts_us"), col("event_id"))
        val wCum = Window.partitionBy(col("event_type"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("event_type"), col("user_id"), col("event_id"),
                  col("ts_us"))
          .withColumn("fst",
            when(lag(col("user_id"), 1).over(wUser) <=> col("user_id"), 0L)
              .otherwise(1L))
          .select(col("event_type"), col("event_id"), col("ts_us"),
                  sum(col("fst")).over(wCum).as("run_distinct"))
          .orderBy(col("event_type"), col("ts_us"), col("event_id"))
      },
      """WITH f AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(user_id, 1) OVER (
        |        PARTITION BY event_type
        |        ORDER BY user_id, epoch_us(ts), event_id)
        |        IS NOT DISTINCT FROM user_id
        |      THEN 0 ELSE 1 END AS fst
        |  FROM events)
        |SELECT event_type, event_id, ts_us,
        |  CAST(SUM(fst) OVER (PARTITION BY event_type
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS run_distinct
        |FROM f ORDER BY event_type, ts_us, event_id""".stripMargin),

    Q(
      // Trailing 7-day DISTINCT customers per order day — the sliding
      // distinct no window frame can express (distinct doesn't
      // decompose): per-day bitmap partials are built ONCE, each day's
      // bitmap replays into the ≤7 windows it belongs to (explode of 7
      // offsets — bitmaps, not rows), and bitmap_or_agg merges per
      // window. Shuffle volume is |days|·7 fixed-size bitmaps instead
      // of 7× the corpus rows; the oracle replays the semantics with a
      // literal range-join COUNT(DISTINCT). Partial leading windows
      // are included (both sides agree); windows are anchored on days
      // that actually occur.
      "q_win_rolling_distinct",
      (s, d) => {
        val od = Tables.orders(s, d)
          .select(to_date(col("o_orderdate")).as("day"),
                  expr("bitmap_bucket_number(o_custkey)").as("bkt"),
                  expr("bitmap_bit_position(o_custkey)").as("pos"))
        val perDay = od.groupBy(col("day"), col("bkt"))
          .agg(expr("bitmap_construct_agg(pos)").as("bm"))
        val days = perDay.select(col("day").as("wday")).distinct()
        perDay
          .withColumn("off", explode(sequence(lit(0), lit(6))))
          .withColumn("wday", date_add(col("day"), col("off")))
          .join(days, Seq("wday"), "left_semi")
          .groupBy(col("wday"), col("bkt"))
          .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("c"))
          .groupBy(col("wday"))
          .agg(sum(col("c")).as("n_cust"))
          .select(date_format(col("wday"), "yyyy-MM-dd").as("day"),
                  col("n_cust"))
          .orderBy(col("day"))
      },
      """WITH od AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, o_custkey
        |  FROM orders),
        |days AS (SELECT DISTINCT day FROM od)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  COUNT(DISTINCT o.o_custkey) AS n_cust
        |FROM days d JOIN od o ON o.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day ORDER BY day""".stripMargin)
  )
}
