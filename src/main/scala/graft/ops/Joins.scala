package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.3 — join surface.
  *
  * Scale notes (100 TB):
  *  - dims (region/nation/part/supplier/customer) are broadcast-able;
  *    `q_join_broadcast` pins that explicitly, elsewhere AQE decides.
  *  - fact⋈fact (orders⋈lineitem) shuffles on the join key; at cluster
  *    scale this is where bucketing both tables on orderkey would remove
  *    the shuffle entirely — see plans/ notes. Hints (MERGE/SHUFFLE_HASH)
  *    are exercised so the strategies stay reachable.
  *  - the interval self-join pre-partitions by user_id; the range
  *    predicate stays within a partition.
  */
object Joins extends OpGroup {

  /** ONE oracle for the hand-banded range join and its optimizer-rule
    * twin — both must hash-match the NAIVE join. */
  private val rangeIntervalSql: String =
    """SELECT a.event_id AS a_id, b.event_id AS b_id,
      |  epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) > epoch_us(a.ts)
      | AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000
      |ORDER BY a_id, b_id""".stripMargin

  /** Each purchase's latest prior click (strictly earlier; within
    * `toleranceUs` when ≥ 0) through the native as-of operator, as
    * (purchase_id, user_id, ts_us, prev_click_id, prev_click_us), -1
    * when none. */
  private def nativeAsOf(s: org.apache.spark.sql.SparkSession, d: String,
                         toleranceUs: Long = -1L)
      : org.apache.spark.sql.DataFrame = {
    val e = graft.io.Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
              col("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
              col("user_id").as("c_user"), col("ts_us").as("click_us"))
    graft.plans.AsOf.join(purchases, clicks,
        Seq(purchases("user_id")), Seq(clicks("c_user")),
        purchases("ts_us"), clicks("click_us"),
        toleranceUs = toleranceUs,
        // deterministic even if equal-ts clicks ever appear: largest
        // click_id wins, matching the oracle's last_value emulation
        rightTieBreak = Seq(clicks("click_id")))
      .select(col("purchase_id"), col("user_id"), col("ts_us"),
              coalesce(col("click_id"), lit(-1L)).as("prev_click_id"),
              coalesce(col("click_us"), lit(-1L)).as("prev_click_us"))
      .orderBy(col("purchase_id"))
  }

  def qs: Seq[Q] = Seq(
    Q(
      "q_join_inner",
      (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"), col("o_orderstatus"),
                moneyOut("l_extendedprice").as("price"))
        // (l_orderkey, l_linenumber) not unique in fixture → full-row order
        .orderBy(col("o_orderkey"), col("l_linenumber"), col("price")),
      """SELECT o_orderkey, l_linenumber, o_orderstatus,
        |  CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber, price""".stripMargin),

    Q(
      // chained star joins, dims explicitly broadcast (no shuffle of the
      // 150-row/25-row/5-row sides at any scale)
      "q_join_broadcast",
      (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, n_name, r_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin),

    Q(
      "q_join_sortmerge",
      (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d).hint("MERGE"),
              col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
             asMoney(sum(money("l_extendedprice"))).as("sum_price"))
        .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    Q(
      "q_join_shuffle_hash",
      (s, d) => Tables.part(s, d)
        .join(Tables.lineitem(s, d).hint("SHUFFLE_HASH"),
              col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
             asMoney(sum(money("l_quantity"))).as("sum_qty"))
        .orderBy(col("p_brand")),
      """SELECT p_brand, COUNT(*) AS n_lines,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    Q(
      "q_join_left_outer",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
                coalesce(col("o_orderkey"), lit(-1L)).as("o_key"),
                moneyOut("o_totalprice").as("total"))
        .orderBy(col("c_custkey"), col("o_key")),
      """SELECT c_custkey, COALESCE(o_orderkey, -1) AS o_key,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_key""".stripMargin),

    Q(
      // FULL OUTER on the unique key pair (suppkey = even custkey):
      // odd suppliers populate the null-right side, even custkeys past
      // the supplier range the null-left side — both outer semantics
      // exercised with LINEAR output. The original demo joined on
      // nationkey (25 values): a per-nation cross product whose output
      // grows quadratically with SF — 0.18 s → 31.4 s (177×) at 100×
      // data in the r6 sf10 sweep, all of it row emission. A
      // low-cardinality full outer is a data-model smell, not a join
      // demo; the many-to-many shape stays covered (bounded) by
      // q_join_cross and the skew family.
      "q_join_full_outer",
      (s, d) => Tables.supplier(s, d)
        .join(Tables.customer(s, d).filter(col("c_custkey") % 2 === 0),
              col("s_suppkey") === col("c_custkey"), "full")
        .select(coalesce(col("s_suppkey"), lit(-1L)).as("sk"),
                coalesce(col("c_custkey"), lit(-1L)).as("ck"))
        .orderBy(col("sk"), col("ck")),
      """SELECT COALESCE(s_suppkey, -1) AS sk, COALESCE(c_custkey, -1) AS ck
        |FROM supplier
        |FULL JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
        |  ON s_suppkey = c_custkey
        |ORDER BY sk, ck""".stripMargin),

    Q(
      "q_join_left_semi",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    Q(
      // anti-join vs the 'F'-status order subset: every customer has SOME
      // order in this data, so the unfiltered anti-join returned 0 rows on
      // both engines — a vacuous green that tested nothing (VERDICT r2).
      // ~5% of customers have no 'F' order, so this emits real rows at
      // every SF while exercising identical anti-join semantics.
      "q_join_left_anti",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    Q(
      // 5×5 pair grid — BroadcastNestedLoopJoin; intentionally tiny
      "q_join_cross",
      (s, d) => {
        val r = Tables.region(s, d)
        r.select(col("r_name").as("an"))
          .crossJoin(r.select(col("r_name").as("bn")))
          .orderBy(col("an"), col("bn"))
      },
      """SELECT a.r_name AS an, b.r_name AS bn
        |FROM region a CROSS JOIN region b
        |ORDER BY an, bn""".stripMargin),

    Q(
      // equi + theta condition: the equi part hashes, the theta part
      // filters post-probe (no O(n²) blowup)
      "q_join_theta",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.part(s, d),
              col("l_partkey") === col("p_partkey") &&
              col("l_extendedprice") > col("p_retailprice") * 40)
        .select(col("l_orderkey"), col("l_linenumber"),
                moneyOut("l_extendedprice").as("price"),
                moneyOut("p_retailprice").as("retail"))
        // (l_orderkey, l_linenumber) not unique in fixture → full-row order
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("price"),
                 col("retail")),
      """SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS price,
        |  CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS retail
        |FROM lineitem JOIN part
        |  ON l_partkey = p_partkey AND l_extendedprice > p_retailprice * 40
        |ORDER BY l_orderkey, l_linenumber, price, retail""".stripMargin),

    Q(
      // event pairs per user within 60s, via api.Events.bandedRangeJoin:
      // the 60s TIME BUCKET joins as an equi key next to user_id, so the
      // range residual only sees candidates in adjacent buckets — a
      // plain equi-join + range residual squares each heavy user's
      // events at 100 TB. Oracle is the naive range join: the hash match
      // proves banding is result-invisible.
      "q_join_range_interval",
      (s, d) => {
        val e = Tables.events(s, d)
        val a = e.select(col("event_id").as("a_id"), col("user_id"),
                         col("ts_us").as("a_us"))
        val b = e.select(col("event_id").as("b_id"),
                         col("user_id").as("b_user"), col("ts_us").as("b_us"))
        graft.api.Events.bandedRangeJoin(
            a, b, col("user_id"), col("b_user"),
            col("a_us"), col("b_us"), maxGapUs = 60000000L)
          .select(col("a_id"), col("b_id"),
                  (col("b_us") - col("a_us")).as("delta_us"))
          .orderBy(col("a_id"), col("b_id"))
      },
      rangeIntervalSql),

    Q(
      // the SAME semantics written NAIVELY, banded by the OPTIMIZER:
      // plans.BandedRangeJoinRule rewrites the raw range conjuncts into
      // the bucket equi-join q_join_range_interval builds by hand — this
      // query oracle-gates the rule end-to-end (identical hash to the
      // naive DuckDB join). Runs in a child session so the injected
      // rule can't leak into other declared queries' plans.
      "q_join_range_optrule",
      (s, d) => {
        val s2 = s.newSession()
        s2.experimental.extraOptimizations =
          Seq(graft.plans.BandedRangeJoinRule)
        val e = Tables.events(s2, d)
        val a = e.select(col("event_id").as("a_id"), col("user_id"),
                         col("ts_us").as("a_us"))
        val b = e.select(col("event_id").as("b_id"),
                         col("user_id").as("b_user"), col("ts_us").as("b_us"))
        a.join(b, col("user_id") === col("b_user") &&
                  col("b_us") > col("a_us") &&
                  col("b_us") <= col("a_us") + 60000000L)
          .select(col("a_id"), col("b_id"),
                  (col("b_us") - col("a_us")).as("delta_us"))
          .orderBy(col("a_id"), col("b_id"))
      },
      rangeIntervalSql),

    Q(
      // null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
      // match each other instead of silently dropping — the classic
      // correctness corner of joining on derived nullable keys
      "q_join_nullsafe",
      (s, d) => {
        val g = Tables.orders(s, d)
          .groupBy(nullif(col("o_orderstatus"), lit("O")).as("k"))
          .agg(count(lit(1)).as("n"))
        g.select(col("k"), col("n").as("n_a"))
          .join(g.select(col("k").as("k2"), col("n").as("n_b")),
                col("k") <=> col("k2"))
          .select(coalesce(col("k"), lit("NULL")).as("k"),
                  col("n_a"), col("n_b"))
          .orderBy(col("k"))
      },
      """WITH g AS (
        |  SELECT NULLIF(o_orderstatus, 'O') AS k, COUNT(*) AS n
        |  FROM orders GROUP BY NULLIF(o_orderstatus, 'O'))
        |SELECT COALESCE(a.k, 'NULL') AS k, a.n AS n_a, b.n AS n_b
        |FROM g a JOIN g b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k""".stripMargin),

    Q(
      // as-of join (SURVEY §2.3/§4.3): for each purchase, the most recent
      // strictly-prior click by the same user. Spark has no native ASOF —
      // emulated as ONE pass: union-tag both sides, then
      // last(click, ignoreNulls) over (PARTITION BY user ORDER BY ts)
      // running frame. Purchases sort before clicks at equal ts (kind 0<1)
      // so "prior" is strict. This is the scalable formulation: a single
      // shuffle on user_id + one sort — no range self-join blowup, and it
      // degrades gracefully under skew (one hot user = one hot partition,
      // same as any asof engine).
      "q_join_asof",
      (s, d) => {
        val e = Frames.purchasesAndClicks(s, d)
        val w = Frames.asOfOrder
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("prev_click_id",
                     last(col("click_id"), ignoreNulls = true).over(w))
          .withColumn("prev_click_us",
                      last(col("click_us"), ignoreNulls = true).over(w))
          .filter(col("kind") === 0)
          .select(col("event_id").as("purchase_id"), col("user_id"),
                  col("ts_us"),
                  coalesce(col("prev_click_id"), lit(-1L)).as("prev_click_id"),
                  coalesce(col("prev_click_us"), lit(-1L)).as("prev_click_us"))
          .orderBy(col("purchase_id"))
      },
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
        |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us,
        |    CASE WHEN event_type = 'click' THEN event_id END AS click_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT *,
        |    last_value(click_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, kind ASC, event_id ASC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_id,
        |    last_value(click_us IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, kind ASC, event_id ASC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_us
        |  FROM t)
        |SELECT event_id AS purchase_id, user_id, ts_us,
        |  COALESCE(prev_click_id, -1) AS prev_click_id,
        |  COALESCE(prev_click_us, -1) AS prev_click_us
        |FROM w WHERE kind = 0 ORDER BY purchase_id""".stripMargin),

    Q(
      // the same as-of semantics through the NATIVE custom operator
      // (graft.plans.AsOfJoinExec: one co-partitioned merge pass; zero
      // exchanges on bucketed inputs) — oracle identical to q_join_asof.
      // Tie note: right rows sort by (key, time) only; verified no
      // duplicate (user, ts_us) clicks exist at any fixture scale, so
      // the match is unique (DeterminismSpec double-runs would flag it).
      "q_join_asof_native",
      (s, d) => nativeAsOf(s, d),
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
        |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us,
        |    CASE WHEN event_type = 'click' THEN event_id END AS click_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT *,
        |    last_value(click_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, kind ASC, event_id ASC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_id,
        |    last_value(click_us IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, kind ASC, event_id ASC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_us
        |  FROM t)
        |SELECT event_id AS purchase_id, user_id, ts_us,
        |  COALESCE(prev_click_id, -1) AS prev_click_id,
        |  COALESCE(prev_click_us, -1) AS prev_click_us
        |FROM w WHERE kind = 0 ORDER BY purchase_id""".stripMargin),

    Q(
      // bounded-lookback as-of through the native operator: the match
      // must lie within 1 hour before the purchase (pandas merge_asof
      // `tolerance`). The exec post-checks the buffered latest-prior row
      // — any earlier row is farther away, so the merge stays O(1)-state.
      // Oracle: the window emulation's latest-prior is the unique
      // candidate, post-filtered by the same bound.
      "q_join_asof_tolerance",
      (s, d) => nativeAsOf(s, d, toleranceUs = 3600000000L),
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
        |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us,
        |    CASE WHEN event_type = 'click' THEN event_id END AS click_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT *,
        |    last_value(click_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, kind ASC, event_id ASC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_id,
        |    last_value(click_us IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, kind ASC, event_id ASC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click_us
        |  FROM t)
        |SELECT event_id AS purchase_id, user_id, ts_us,
        |  CASE WHEN prev_click_us IS NOT NULL
        |         AND ts_us - prev_click_us <= 3600000000
        |       THEN prev_click_id ELSE -1 END AS prev_click_id,
        |  CASE WHEN prev_click_us IS NOT NULL
        |         AND ts_us - prev_click_us <= 3600000000
        |       THEN prev_click_us ELSE -1 END AS prev_click_us
        |FROM w WHERE kind = 0 ORDER BY purchase_id""".stripMargin),

    Q(
      // interval × interval overlap join (api.Events.intervalOverlapJoin):
      // per-customer order "activity windows" [orderdate, orderdate +
      // 5..24 days] — which pairs overlap? The naive form squares every
      // heavy customer; the operator explodes each interval to its
      // covered 16-day buckets and candidates meet through an EQUI join
      // on (custkey, bucket), each surviving pair emitted exactly once
      // (kept only in max(start)'s bucket — no distinct). The oracle
      // runs the NAIVE self-join: the hash match proves banding is
      // result-invisible. a_key < b_key halves the symmetric pairs.
      "q_join_interval_overlap",
      (s, d) => {
        def iv(pfx: String) = Tables.orders(s, d)
          .select(col("o_custkey").as(s"${pfx}_cust"),
                  col("o_orderkey").as(s"${pfx}_key"),
                  expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)")
                    .as(s"${pfx}_s"))
          .withColumn(s"${pfx}_e",
            col(s"${pfx}_s") + lit(5) + pmod(col(s"${pfx}_key"), lit(20)))
        graft.api.Events.intervalOverlapJoin(
            iv("a"), iv("b"),
            col("a_cust"), col("b_cust"),
            col("a_s"), col("a_e"), col("b_s"), col("b_e"),
            bandWidth = 16L)
          .filter(col("a_key") < col("b_key"))
          .select(col("a_cust").as("custkey"), col("a_key"), col("b_key"),
                  (least(col("a_e"), col("b_e")) -
                   greatest(col("a_s"), col("b_s")) + 1)
                    .as("overlap_days"))
          .orderBy(col("custkey"), col("a_key"), col("b_key"))
      },
      """WITH iv AS (
        |  SELECT o_custkey AS cust, o_orderkey AS k,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |                   CAST(o_orderdate AS DATE)) AS BIGINT) AS s,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |                   CAST(o_orderdate AS DATE)) AS BIGINT)
        |      + 5 + (o_orderkey % 20) AS e
        |  FROM orders)
        |SELECT a.cust AS custkey, a.k AS a_key, b.k AS b_key,
        |  least(a.e, b.e) - greatest(a.s, b.s) + 1 AS overlap_days
        |FROM iv a JOIN iv b
        |  ON a.cust = b.cust AND a.k < b.k
        |  AND a.s <= b.e AND b.s <= a.e
        |ORDER BY custkey, a_key, b_key""".stripMargin),

    Q(
      // FORWARD as-of: each purchase matched to the user's NEXT click at
      // ts >= the purchase's (pandas merge_asof direction='forward',
      // inclusive like its backward default). Same one-sort interleaved
      // window shape as q_join_asof, mirrored: purchases sort BEFORE
      // same-timestamp clicks (kind asc), so a same-ts click sits in the
      // 1-FOLLOWING..∞ frame and matches — `first(..., ignoreNulls)`
      // forward is the same O(1)-state scan as `last` backward, just
      // right-to-left. Still zero joins, one user_id exchange.
      "q_join_asof_forward",
      (s, d) => {
        val e = Frames.purchasesAndClicks(s, d)
        val w = Frames.asOfOrder
          .rowsBetween(1, Window.unboundedFollowing)
        e.withColumn("next_click_id",
                     first(col("click_id"), ignoreNulls = true).over(w))
          .withColumn("next_click_us",
                      first(col("click_us"), ignoreNulls = true).over(w))
          .filter(col("kind") === 0)
          .select(col("event_id").as("purchase_id"), col("user_id"),
                  col("ts_us"),
                  coalesce(col("next_click_id"), lit(-1L)).as("next_click_id"),
                  coalesce(col("next_click_us"), lit(-1L)).as("next_click_us"))
          .orderBy(col("purchase_id"))
      },
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
        |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us,
        |    CASE WHEN event_type = 'click' THEN event_id END AS click_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT *,
        |    first_value(click_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, kind ASC, event_id ASC
        |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_id,
        |    first_value(click_us IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us ASC, kind ASC, event_id ASC
        |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_us
        |  FROM t)
        |SELECT event_id AS purchase_id, user_id, ts_us,
        |  COALESCE(next_click_id, -1) AS next_click_id,
        |  COALESCE(next_click_us, -1) AS next_click_us
        |FROM w WHERE kind = 0 ORDER BY purchase_id""".stripMargin),

    Q(
      // NEAREST as-of (pandas merge_asof direction='nearest') — the
      // third and final direction: each purchase matched to whichever
      // click is closer in time, backward (strictly earlier) or
      // forward (ts ≥ its own, same-ts clicks count as Δ=0 exactly as
      // the forward variant defines), ties → backward. BOTH carried
      // window passes ride ONE (user, ts, kind, id) sort — the same
      // interleaved-window trick as the single directions, so nearest
      // costs the same one hash exchange, zero joins. A NULL side
      // simply loses; no match at all reports -1/'none'.
      "q_join_asof_nearest",
      (s, d) => {
        val e = Frames.purchasesAndClicks(s, d)
        val ord = Frames.asOfOrder
        val wb = ord.rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow)
        val wf = ord.rowsBetween(1, Window.unboundedFollowing)
        val both = e
          .withColumn("b_id", last(col("click_id"), ignoreNulls = true).over(wb))
          .withColumn("b_us", last(col("click_us"), ignoreNulls = true).over(wb))
          .withColumn("f_id", first(col("click_id"), ignoreNulls = true).over(wf))
          .withColumn("f_us", first(col("click_us"), ignoreNulls = true).over(wf))
          .filter(col("kind") === 0)
        val useB = col("b_us").isNotNull &&
          (col("f_us").isNull ||
           col("ts_us") - col("b_us") <= col("f_us") - col("ts_us"))
        both.select(col("event_id").as("purchase_id"), col("user_id"),
                    col("ts_us"),
                    coalesce(when(useB, col("b_id")).otherwise(col("f_id")),
                             lit(-1L)).as("near_click_id"),
                    coalesce(when(useB, col("b_us")).otherwise(col("f_us")),
                             lit(-1L)).as("near_click_us"),
                    when(col("b_us").isNull && col("f_us").isNull, "none")
                      .when(useB, "b").otherwise("f").as("dir"))
          .orderBy(col("purchase_id"))
      },
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
        |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us,
        |    CASE WHEN event_type = 'click' THEN event_id END AS click_id
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |w AS (
        |  SELECT *,
        |    last_value(click_id IGNORE NULLS) OVER wb AS b_id,
        |    last_value(click_us IGNORE NULLS) OVER wb AS b_us,
        |    first_value(click_id IGNORE NULLS) OVER wf AS f_id,
        |    first_value(click_us IGNORE NULLS) OVER wf AS f_us
        |  FROM t
        |  WINDOW wb AS (PARTITION BY user_id
        |    ORDER BY ts_us ASC, kind ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY user_id
        |    ORDER BY ts_us ASC, kind ASC, event_id ASC
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
        |n AS (
        |  SELECT *,
        |    (b_us IS NOT NULL AND
        |     (f_us IS NULL OR ts_us - b_us <= f_us - ts_us)) AS use_b
        |  FROM w WHERE kind = 0)
        |SELECT event_id AS purchase_id, user_id, ts_us,
        |  COALESCE(CASE WHEN use_b THEN b_id ELSE f_id END, -1)
        |    AS near_click_id,
        |  COALESCE(CASE WHEN use_b THEN b_us ELSE f_us END, -1)
        |    AS near_click_us,
        |  CASE WHEN b_us IS NULL AND f_us IS NULL THEN 'none'
        |       WHEN use_b THEN 'b' ELSE 'f' END AS dir
        |FROM n ORDER BY purchase_id""".stripMargin),

    Q(
      // Range ANTI-join: purchases with NO view by the same user in the
      // preceding 24 h — the "event without its expected precursor"
      // detector (fraud auth-without-login, orphaned conversions,
      // broken tracking). The join carries the user_id EQUI key, so
      // Spark plans a hash-partitioned anti join with the time-range
      // predicate evaluated in the join stage — never the
      // BroadcastNestedLoop a pure range-anti would force; per-user
      // event lists are small so the range filter is cheap post-match.
      // Daily orphan counts keep the output domain-sized.
      "q_join_range_anti",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_type"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("ts_us").as("pt"))
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id").as("vu"), col("ts_us").as("vt"))
        p.join(v, col("pu") === col("vu") &&
                 col("vt") >= col("pt") - lit(DayUs) &&
                 col("vt") < col("pt"), "left_anti")
          .groupBy(ldiv(col("pt"), lit(DayUs)).as("day"))
          .agg(count(lit(1)).as("n_orphan"))
          .orderBy(col("day"))
      },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |p AS (SELECT user_id AS pu, ts_us AS pt FROM e
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS vu, ts_us AS vt FROM e
        |      WHERE event_type = 'view')
        |SELECT pt // 86400000000 AS day, COUNT(*) AS n_orphan
        |FROM p WHERE NOT EXISTS (
        |  SELECT 1 FROM v
        |  WHERE vu = pu AND vt >= pt - 86400000000 AND vt < pt)
        |GROUP BY pt // 86400000000 ORDER BY day""".stripMargin),

    Q(
      // Interval coalescing (gaps-and-islands MERGE): per supplier,
      // merge every overlapping [orderdate, shipdate] line interval
      // into maximal islands and report island count + covered days —
      // the utilization/uptime computation (busy-time from overlapping
      // jobs, sessions from overlapping spans). The classic: a new
      // island starts where start > running-max(previous ends); the
      // island id is the cumsum of those flags. Rows are totally
      // ordered inside each supplier partition by (start, end,
      // orderkey, linenumber) so the flag sequence — and therefore the
      // island ids — are bit-identical cross-engine. Windows run
      // per-supplier (parallel partitions), never globally.
      "q_join_interval_coalesce",
      (s, d) => {
        val iv = Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
                col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey"),
                  epochDay("o_orderdate").as("st"),
                  epochDay("l_shipdate").as("en"),
                  col("l_orderkey"), col("l_linenumber"))
        val ord = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("st"), col("en"), col("l_orderkey"),
                   col("l_linenumber"))
        val flagged = iv
          .withColumn("rmax", max(col("en")).over(
            ord.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("flag",
            when(col("rmax").isNull || col("st") > col("rmax"), 1L)
              .otherwise(0L))
          .withColumn("island", sum(col("flag")).over(
            ord.rowsBetween(Window.unboundedPreceding, 0)))
        flagged.groupBy(col("l_suppkey"), col("island"))
          .agg(min(col("st")).as("is_st"), max(col("en")).as("is_en"))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_islands"),
               sum(col("is_en") - col("is_st") + 1).as("covered_days"))
          .orderBy(col("l_suppkey"))
      },
      """WITH iv AS (
        |  SELECT l_suppkey,
        |    epoch_us(o_orderdate) // 86400000000 AS st,
        |    epoch_us(l_shipdate) // 86400000000 AS en,
        |    l_orderkey, l_linenumber
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |f AS (
        |  SELECT l_suppkey, st, en, l_orderkey, l_linenumber,
        |    MAX(en) OVER (PARTITION BY l_suppkey
        |      ORDER BY st, en, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS rmax
        |  FROM iv),
        |g AS (
        |  SELECT l_suppkey, st, en, l_orderkey, l_linenumber,
        |    CASE WHEN rmax IS NULL OR st > rmax THEN 1 ELSE 0 END
        |      AS flag
        |  FROM f),
        |h AS (
        |  SELECT l_suppkey, st, en,
        |    SUM(flag) OVER (PARTITION BY l_suppkey
        |      ORDER BY st, en, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS island
        |  FROM g),
        |isl AS (
        |  SELECT l_suppkey, island,
        |    MIN(st) AS is_st, MAX(en) AS is_en
        |  FROM h GROUP BY l_suppkey, island)
        |SELECT l_suppkey, COUNT(*) AS n_islands,
        |  CAST(SUM(is_en - is_st + 1) AS BIGINT) AS covered_days
        |FROM isl GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)
  )
}
