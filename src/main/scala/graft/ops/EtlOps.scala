package graft.ops

import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** Warehouse-maintenance operators every large ingest pipeline runs:
  * CDC/SCD compaction (keep-latest per key), the explicit salted join
  * for pathological key skew, fixed-width histogram profiling, and
  * rolling distinct-actives (DAU/WAU).
  *
  * Scale notes per operator live on each query; the common thread is
  * "one hash-aggregate where the folk idiom uses a window", and
  * replicate/broadcast only what is provably tiny.
  */
object EtlOps extends OpGroup {

  def qs: Seq[Q] = Seq(
    Q(
      // keep-latest order per customer — api.Dedup.keepLatest: ONE
      // hash-agg (max_by of the row over the version struct), not the
      // window-rank idiom that sorts every key group. (o_orderdate,
      // o_orderkey) is a total order (orderkey unique), so "latest" is
      // deterministic; the oracle's window twin proves the equivalence.
      "q_dedup_latest",
      (s, d) => graft.api.Dedup.keepLatest(
          Tables.orders(s, d)
            .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
                    col("o_totalprice"), col("o_orderstatus")),
          keys = Seq(col("o_custkey")),
          version = Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
                date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_date"),
                moneyOut("o_totalprice").as("totalprice"),
                col("o_orderstatus"))
        .orderBy(col("o_custkey")),
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS latest_date,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE)
        |    AS totalprice,
        |  o_orderstatus
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin),

    Q(
      // CDC APPLY (api.Dedup.applyChanges): pre-1999 orders are the
      // base snapshot, 1999+ orders the changelog, every 11th change
      // key a DELETE tombstone — the newest version per customer wins
      // across both sides and a tombstone-latest customer leaves the
      // snapshot. MERGE INTO semantics in union + one hash-agg +
      // filter; the oracle's window/QUALIFY twin proves it.
      "q_etl_cdc_apply",
      (s, d) => {
        def cols(df: org.apache.spark.sql.DataFrame) =
          df.select(col("o_custkey"), col("o_orderkey"),
                    col("o_orderdate"), col("o_totalprice"))
        val base = cols(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1999-01-01")))
        val chg = cols(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1999-01-01")))
        graft.api.Dedup.applyChanges(
            base, chg,
            keys = Seq(col("o_custkey")),
            version = Seq(col("o_orderdate"), col("o_orderkey")),
            isDelete = pmod(col("o_orderkey"), lit(11)) === 0)
          .select(col("o_custkey"), col("o_orderkey"),
                  date_format(col("o_orderdate"), "yyyy-MM-dd")
                    .as("latest_date"),
                  moneyOut("o_totalprice").as("totalprice"))
          .orderBy(col("o_custkey"))
      },
      """WITH u AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    FALSE AS del
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
        |  UNION ALL
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    (o_orderkey % 11 = 0) AS del
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
        |latest AS (
        |  SELECT * FROM u
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1)
        |SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS latest_date,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE)
        |    AS totalprice
        |FROM latest WHERE NOT del
        |ORDER BY o_custkey""".stripMargin),

    Q(
      // explicit skew salting (ops.Skew.saltedEquiJoin): the probe side
      // gets a deterministic content-hash salt in [0,8), the build side
      // replicates 8x, the join key becomes (key, salt) — one hot key
      // fans across 8 tasks. The oracle is the PLAIN join: salting must
      // be invisible in the result, and the hash gate proves it.
      "q_join_skew_salted",
      (s, d) => graft.ops.Skew.saltedEquiJoin(
          probe = Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_linenumber"),
                    col("l_quantity"), col("l_extendedprice")),
          build = Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderpriority")),
          probeKey = col("l_orderkey"),
          buildKey = col("o_orderkey"),
          buckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             asMoney(sum(money("l_quantity"))).as("sum_qty"),
             asMoney(sum(money("l_extendedprice"))).as("sum_price"))
        .orderBy(col("o_orderpriority")),
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Q(
      // fixed-width histogram of extendedprice: integer bucket id from
      // floor division (identical IEEE op in both engines — no
      // width_bucket, which DuckDB lacks), then one hash-agg. The
      // data-profiling primitive: count + mass + bounds per bucket.
      "q_agg_histogram",
      (s, d) => Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") / 5000.0).cast("int")
                  .as("bucket"),
                col("l_extendedprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
             asMoney(sum(money("l_extendedprice"))).as("sum_price"),
             min(col("l_extendedprice")).as("lo"),
             max(col("l_extendedprice")).as("hi"))
        .orderBy(col("bucket")),
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS INT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS sum_price,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin),

    Q(
      // distribution-drift gate (api.Etl.psi): population stability
      // index of the order-value distribution, pre-1998 orders as the
      // reference snapshot vs the rest as current, 25k-wide buckets
      // (the q_agg_histogram binning idiom). Add-one smoothing over
      // the observed bucket set — no ε constants, integer-derived,
      // engine-portable; the only double-order reduction sums ≤ B
      // already-rounded terms. The between-ingest-batches check that
      // catches upstream shifts before they poison a training mix.
      "q_etl_drift_psi",
      (s, d) => {
        val o = Tables.orders(s, d)
        graft.api.Etl.psi(
          o.filter(col("o_orderdate") < lit("1998-01-01")),
          o.filter(col("o_orderdate") >= lit("1998-01-01")),
          floor(col("o_totalprice") / 25000.0).cast("int"))
          .orderBy(col("bucket"))
      },
      """WITH t AS (
        |  SELECT CAST(floor(o_totalprice / 25000.0) AS INT) AS bucket,
        |    CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1
        |    END AS side
        |  FROM orders),
        |c AS (
        |  SELECT bucket,
        |    COUNT(*) FILTER (WHERE side = 0) AS n_ref,
        |    COUNT(*) FILTER (WHERE side = 1) AS n_cur
        |  FROM t GROUP BY bucket),
        |p AS (
        |  SELECT bucket, n_ref, n_cur,
        |    CAST(n_ref + 1 AS DOUBLE)
        |      / (SUM(n_ref) OVER () + COUNT(*) OVER ()) AS pr,
        |    CAST(n_cur + 1 AS DOUBLE)
        |      / (SUM(n_cur) OVER () + COUNT(*) OVER ()) AS pc
        |  FROM c),
        |q AS (
        |  SELECT bucket, n_ref, n_cur,
        |    round((pc - pr) * ln(pc / pr), 6) + 0 AS psi_term
        |  FROM p)
        |SELECT bucket, n_ref, n_cur, psi_term,
        |  round(SUM(psi_term) OVER (), 4) + 0 AS psi
        |FROM q ORDER BY bucket""".stripMargin),

    Q(
      // rolling 7-day distinct actives (DAU/WAU): reduce the stream to
      // distinct (day, user) FIRST (the only corpus-sized shuffle),
      // then each pair covers days d..d+6 via a 7-row explode — an
      // equi-groupBy, never a range self-join — and a broadcast
      // semi-join on the observed-day grid trims the tail beyond the
      // last day. Spark has no COUNT(DISTINCT) OVER RANGE; this shape
      // sidesteps it and scales linearly in active pairs.
      "q_events_active_users",
      (s, d) => {
        val du = Tables.events(s, d)
          .select((col("ts_us") - col("ts_us") % DayUs).as("day_us"),
                  col("user_id"))
          .distinct()
        val grid = du.select(col("day_us").as("g_us")).distinct()
        // ONE du pass: the o=0 coverage row IS the day itself, so DAU is
        // the distinct count over that slice of the same exploded frame
        // (a second du branch would re-scan and re-distinct the stream —
        // Spark has no cross-branch CSE)
        du.select(explode(sequence(lit(0L), lit(6L))).as("o"),
                  col("day_us"), col("user_id"))
          .select((col("day_us") + col("o") * DayUs).as("cov_us"),
                  col("o"), col("user_id"))
          .join(broadcast(grid), col("cov_us") === col("g_us"), "left_semi")
          .groupBy(col("cov_us"))
          .agg(countDistinct(when(col("o") === 0L, col("user_id")))
                 .as("dau"),
               countDistinct(col("user_id")).as("wau"))
          .select(col("cov_us").as("day_us"), col("dau"), col("wau"))
          .orderBy(col("day_us"))
      },
      s"""WITH du AS (
        |  SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % $DayUs AS day_us,
        |    user_id
        |  FROM events),
        |grid AS (SELECT DISTINCT day_us FROM du),
        |cov AS (
        |  SELECT du.day_us + o * $DayUs AS cov_us, o, user_id
        |  FROM du, unnest(range(0, 7)) AS t(o))
        |SELECT cov_us AS day_us,
        |  COUNT(DISTINCT CASE WHEN o = 0 THEN user_id END) AS dau,
        |  COUNT(DISTINCT user_id) AS wau
        |FROM cov SEMI JOIN grid ON cov.cov_us = grid.day_us
        |GROUP BY cov_us
        |ORDER BY day_us""".stripMargin),

    Q(
      // SCD type-2 history build: collapse each customer's order-
      // priority change log into validity intervals — keep only rows
      // where the attribute CHANGED vs the previous version (lag), then
      // close each interval with the next change's date (lead). The
      // classic warehouse dimension-history op.
      //
      // Scale: one shuffle on o_custkey; the lag flag, the filter, and
      // the lead all share the SAME (custkey × (date, orderkey)) sort
      // order — filter preserves intra-partition order, so Spark plans
      // ONE exchange and reuses the sort for both windows.
      "q_etl_scd2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val changed = Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
                  col("o_orderpriority"))
          .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
          .filter(col("prev").isNull ||
                  col("prev") =!= col("o_orderpriority"))
        changed
          .withColumn("ver", row_number().over(w))
          .withColumn("next_from", lead(col("o_orderdate"), 1).over(w))
          .select(col("o_custkey"), col("ver"),
                  col("o_orderpriority").as("priority"),
                  date_format(col("o_orderdate"), "yyyy-MM-dd")
                    .as("valid_from"),
                  coalesce(date_format(col("next_from"), "yyyy-MM-dd"),
                           lit("9999-12-31")).as("valid_to"),
                  col("next_from").isNull.as("is_current"))
          .orderBy(col("o_custkey"), col("ver"))
      },
      """WITH chg AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    lag(o_orderpriority) OVER w AS prev
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate ASC, o_orderkey ASC)),
        |v AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority
        |  FROM chg WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey,
        |  CAST(row_number() OVER w AS INTEGER) AS ver,
        |  o_orderpriority AS priority,
        |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        |  COALESCE(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d'),
        |           '9999-12-31') AS valid_to,
        |  (lead(o_orderdate) OVER w IS NULL) AS is_current
        |FROM v
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, ver""".stripMargin),

    Q(
      // POINT-IN-TIME dimension join against the SCD2 history built
      // above: every lineitem looks up its customer's priority AS OF
      // ITS SHIP DATE (a genuinely different time than the version
      // boundaries). The PIT shape: equi-join on the dimension key +
      // the interval residual vf ≤ t < vt — versions partition
      // [first, ∞) so every ship date matches EXACTLY one version.
      // One custkey-keyed join; per-key fanout = that customer's
      // version count (bounded by their change log).
      "q_join_pit_scd2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val hist = Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
                  col("o_orderpriority"))
          .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
          .filter(col("prev").isNull ||
                  col("prev") =!= col("o_orderpriority"))
          .withColumn("vt", lead(col("o_orderdate"), 1).over(w))
          .select(col("o_custkey").as("hk"),
                  col("o_orderpriority").as("priority"),
                  col("o_orderdate").as("vf"), col("vt"))
        val fact = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_shipdate"))
          .join(Tables.orders(s, d)
                  .select(col("o_orderkey"), col("o_custkey")),
                col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("ck"), col("l_shipdate").as("sd"))
        fact.join(hist, col("ck") === col("hk") &&
                        col("sd") >= col("vf") &&
                        (col("vt").isNull || col("sd") < col("vt")))
          .groupBy(col("priority"))
          .agg(count(lit(1)).as("n_items"))
          .orderBy(col("priority"))
      },
      """WITH chg AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    lag(o_orderpriority) OVER w AS prev
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate ASC, o_orderkey ASC)),
        |h AS (
        |  SELECT o_custkey AS hk, o_orderpriority AS priority,
        |    o_orderdate AS vf, lead(o_orderdate) OVER w AS vt
        |  FROM (SELECT * FROM chg
        |        WHERE prev IS NULL OR prev <> o_orderpriority)
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate ASC, o_orderkey ASC)),
        |f AS (
        |  SELECT o.o_custkey AS ck, l.l_shipdate AS sd
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT h.priority, COUNT(*) AS n_items
        |FROM f JOIN h ON h.hk = f.ck AND f.sd >= h.vf
        |               AND (h.vt IS NULL OR f.sd < h.vt)
        |GROUP BY h.priority ORDER BY h.priority""".stripMargin),

    Q(
      // Day-over-day volume anomaly gate: days whose order count sits
      // more than 3σ from the mean of the daily series. The FLAG is a
      // pure integer inequality (c·n − s)² > 9·(n·ss − s²) — no float
      // ever decides membership, so the flagged set is hash-stable by
      // construction; z itself is the one reported double. Two
      // hash-aggs + a broadcast 1-row moments join.
      "q_etl_dq_anomaly",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("dy"))
          .agg(count(lit(1)).as("c"))
        val m = daily.agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("c")).as("s"),
          sum((col("c").cast(D38) * col("c").cast(D38)).cast(D38))
            .as("ss"))
        val dev = (col("c").cast(D38) * col("n") - col("s").cast(D38))
        val varn = (col("n").cast(D38) * col("ss") -
                    col("s").cast(D38) * col("s").cast(D38))
        daily.crossJoin(broadcast(m))
          .filter((dev * dev).cast(D38) > lit(9).cast(D38) * varn)
          .select(date_format(col("dy"), "yyyy-MM-dd").as("day"),
                  col("c").as("n_orders"),
                  round(dev.cast("double") /
                        sqrt(varn.cast("double")), 4).as("z"))
          .orderBy(col("day"))
      },
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS dy, COUNT(*) AS c
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS s,
        |    SUM(CAST(c AS HUGEINT) * c) AS ss
        |  FROM d)
        |SELECT strftime(dy, '%Y-%m-%d') AS day, c AS n_orders,
        |  round(CAST(CAST(c AS HUGEINT) * n - s AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * ss
        |                    - CAST(s AS HUGEINT) * s AS DOUBLE)), 4) + 0
        |    AS z
        |FROM d CROSS JOIN m
        |WHERE (CAST(c AS HUGEINT) * n - s) * (CAST(c AS HUGEINT) * n - s)
        |      > 9 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
        |ORDER BY day""".stripMargin),

    Q(
      // data-quality profile (ANALYZE-style): count / nulls / exact
      // distinct / min / max for four orders columns, as narrow rows.
      // ONE scan: a single multi-distinct aggregate row (Catalyst
      // Expand handles the four distincts), exploded to a row per
      // column — at 100 TB profiling must be scan-bound, never a
      // pass per column. Min/max cross as canonical strings (R4/R9:
      // money via DECIMAL(18,2), dates via yyyy-MM-dd).
      "q_etl_profile",
      (s, d) => {
        val one = Tables.orders(s, d).agg(
          count(lit(1)).as("n"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn1"),
          countDistinct(col("o_custkey")).as("nd1"),
          min(col("o_custkey")).cast("string").as("mn1"),
          max(col("o_custkey")).cast("string").as("mx1"),
          sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L))
            .as("nn2"),
          countDistinct(col("o_orderstatus")).as("nd2"),
          min(col("o_orderstatus")).as("mn2"),
          max(col("o_orderstatus")).as("mx2"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L))
            .as("nn3"),
          countDistinct(col("o_totalprice")).as("nd3"),
          min(money("o_totalprice")).cast("string").as("mn3"),
          max(money("o_totalprice")).cast("string").as("mx3"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nn4"),
          countDistinct(col("o_orderdate")).as("nd4"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("mn4"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("mx4"))
        def p(name: String, i: Int) =
          struct(lit(name).as("col_name"), col(s"nn$i").as("n_null"),
                 col(s"nd$i").as("n_distinct"), col(s"mn$i").as("min_s"),
                 col(s"mx$i").as("max_s"))
        one.select(col("n"), explode(array(
            p("o_custkey", 1), p("o_orderstatus", 2),
            p("o_totalprice", 3), p("o_orderdate", 4))).as("m"))
          .select(col("m.col_name"), col("n"), col("m.n_null"),
                  col("m.n_distinct"), col("m.min_s"), col("m.max_s"))
          .orderBy(col("col_name"))
      },
      """WITH s AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn1,
        |    COUNT(DISTINCT o_custkey) AS nd1,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS mn1,
        |    CAST(MAX(o_custkey) AS VARCHAR) AS mx1,
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn2,
        |    COUNT(DISTINCT o_orderstatus) AS nd2,
        |    MIN(o_orderstatus) AS mn2, MAX(o_orderstatus) AS mx2,
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn3,
        |    COUNT(DISTINCT o_totalprice) AS nd3,
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        |      AS mn3,
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
        |      AS mx3,
        |    CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn4,
        |    COUNT(DISTINCT o_orderdate) AS nd4,
        |    strftime(MIN(o_orderdate), '%Y-%m-%d') AS mn4,
        |    strftime(MAX(o_orderdate), '%Y-%m-%d') AS mx4
        |  FROM orders)
        |SELECT col_name, n, n_null, n_distinct, min_s, max_s FROM (
        |  SELECT 'o_custkey' AS col_name, n, nn1 AS n_null,
        |    nd1 AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM s
        |  UNION ALL SELECT 'o_orderstatus', n, nn2, nd2, mn2, mx2 FROM s
        |  UNION ALL SELECT 'o_totalprice', n, nn3, nd3, mn3, mx3 FROM s
        |  UNION ALL SELECT 'o_orderdate', n, nn4, nd4, mn4, mx4 FROM s)
        |ORDER BY col_name""".stripMargin),

    Q(
      // snapshot diff (api.Etl.snapshotDiff): classify every key across
      // two table versions as added/removed/changed/unchanged — the
      // reconciliation every recorder backfill runs. Spark side is the
      // union-tag + ONE hash-agg fingerprint shape (never a full-outer
      // join); the ORACLE runs the textbook FULL OUTER JOIN with direct
      // column comparison — the hash match proves the md5-fingerprint
      // aggregate computes exactly the join's semantics. Snapshots are
      // derived deterministically from orders: the "old" version lacks
      // keys %11==0 (added since), carries a $1.00-stale price on
      // %7==0 (changed), and the "new" version dropped %13==0
      // (removed). Output: per-class count + key checksum.
      // The two versions are REAL table snapshots, not filter views
      // (r6): both are committed to a graft.model.TxTable (v1 = old,
      // v2 = overwrite to new) and read back via TIME TRAVEL
      // (readAt) — the q_dedup_from_signatures pattern: the commit→
      // snapshot-read roundtrip sits in the measured plan, and the
      // oracle (which derives both versions from `orders` directly)
      // proves the time-travel reads are lossless and the diff over
      // them ≡ the diff over the definitions.
      "q_etl_snapshot_diff",
      (s, d) => {
        // r13 (guide §3.3): `o` feeds both snapshot definitions, each
        // committed by its own write — two orders scans without a seam
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
                  cents("o_totalprice").as("cents"))
          .localCheckpoint()
        val oldDef = o.filter(pmod(col("o_orderkey"), lit(11)) =!= 0)
          .withColumn("cents",
            when(pmod(col("o_orderkey"), lit(7)) === 0,
                 col("cents") - 100).otherwise(col("cents")))
        val newDef = o.filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
        // wiped per construction: reps never accumulate commits
        val tx = graft.model.TxTable(s,
          scratchDir("graft_txdiff_", d, wipe = true))
        val v1 = tx.overwrite(oldDef)   // snapshot 1: the stale table
        val v2 = tx.overwrite(newDef)   // snapshot 2: after the loads
        graft.api.Etl.snapshotDiff(
            tx.readAt(v1), tx.readAt(v2),
            keys = Seq("o_orderkey"),
            payload = Seq("o_orderstatus", "cents"))
          .groupBy(col("change"))
          .agg(count(lit(1)).as("n"),
               sum(col("o_orderkey")).as("key_sum"))
          .orderBy(col("change"))
      },
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |olds AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN cents - 100 ELSE cents END
        |      AS cents
        |  FROM o WHERE o_orderkey % 11 <> 0),
        |news AS (SELECT * FROM o WHERE o_orderkey % 13 <> 0),
        |diff AS (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |         WHEN b.o_orderkey IS NULL THEN 'removed'
        |         WHEN a.o_orderstatus <> b.o_orderstatus
        |              OR a.cents <> b.cents THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM olds a FULL OUTER JOIN news b
        |    ON a.o_orderkey = b.o_orderkey)
        |SELECT change, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS key_sum
        |FROM diff GROUP BY change ORDER BY change""".stripMargin),

    Q(
      // incremental re-aggregation (the materialized-rollup pattern):
      // the yearly report computed FROM per-month partials — sum of
      // sums, sum of counts, avg re-derived from the merged pair, never
      // from averaging averages. The oracle aggregates the fact table
      // directly; the hash match proves partial-merge ≡ direct — the
      // algebraic property that lets a 100 TB warehouse maintain small
      // per-partition partials and answer coarser rollups without ever
      // rescanning facts. Decimal partials keep the merge exact; the
      // average goes through avgExact4's integral half-up division.
      "q_etl_incremental_agg",
      (s, d) => {
        val partials = Tables.orders(s, d)
          .groupBy(year(col("o_orderdate")).as("yr"),
                   month(col("o_orderdate")).as("mo"))
          .agg(sum(money("o_totalprice")).as("psum"),
               count(lit(1)).as("pn"))
        partials.groupBy(col("yr"))
          .agg(asMoney(sum(col("psum"))).as("revenue"),
               sum(col("pn")).as("n_orders"),
               // Wide form: a YEAR of order revenue 1e4-scaled clears
               // int64 at the 100 TB SF this file targets — the same
               // silent-wrap divergence ADVICE r3 flagged for
               // q_macro_market_share (review r4 finding)
               avgExact4Wide(sum(col("psum")), sum(col("pn")))
                 .as("avg_price"))
          .orderBy(col("yr"))
      },
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders,
        |  CAST((2*CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))*10000
        |          AS HUGEINT) + COUNT(*))
        |       // (2*COUNT(*)) AS DOUBLE) / 10000.0 AS avg_price
        |FROM orders GROUP BY yr ORDER BY yr""".stripMargin),

    Q(
      // CUMULATIVE DISTINCT users by day — the aggregate window
      // functions cannot express (COUNT(DISTINCT) OVER is unsupported
      // in Spark and quadratic anywhere): reformulated as
      // first-occurrence counting — ONE hash-agg finds each user's
      // first day, a second counts first-occurrences per day, and the
      // running sum over the DAY GRID (bounded — ~30 rows here, ~10⁴
      // at a decade of days; never the corpus) rebuilds the cumulative
      // distinct count. The ORACLE is the naive correlated
      // COUNT(DISTINCT) per day — the hash match proves the
      // reformulation exact.
      "q_events_cume_users",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select((col("ts_us") - col("ts_us") % DayUs).as("day_us"),
                  col("user_id"))
        val firstDay = ev.groupBy(col("user_id"))
          .agg(min(col("day_us")).as("day_us"))
        val newPerDay = firstDay.groupBy(col("day_us"))
          .agg(count(lit(1)).as("n_new_users"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("day_us"))
          .rowsBetween(Long.MinValue, 0)
        ev.select(col("day_us")).distinct()
          .join(newPerDay, Seq("day_us"), "left")
          .select(col("day_us"),
                  coalesce(col("n_new_users"), lit(0L)).as("n_new_users"))
          .withColumn("cume_users", sum(col("n_new_users")).over(w))
          .orderBy(col("day_us"))
      },
      s"""WITH days AS (
        |  SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % $DayUs AS day_us
        |  FROM events),
        |c AS (
        |  SELECT d.day_us,
        |    (SELECT COUNT(DISTINCT e.user_id) FROM events e
        |     WHERE epoch_us(e.ts) - epoch_us(e.ts) % $DayUs <= d.day_us)
        |      AS cume_users
        |  FROM days d)
        |SELECT day_us,
        |  cume_users - COALESCE(LAG(cume_users) OVER (ORDER BY day_us),
        |                        0) AS n_new_users,
        |  cume_users
        |FROM c ORDER BY day_us""".stripMargin),

    Q(
      // declarative data-quality gate (api.Etl.expect + expectUnique +
      // expectRefIntegrity): four predicate checks over orders fold
      // into ONE conditional aggregate (one scan regardless of check
      // count), uniqueness is one hash-agg, referential integrity one
      // LEFT ANTI join count. Checks are chosen so the fixture
      // produces BOTH outcomes — passing rows with 0 violations and
      // failing rows with real counts — so the gate's detection is
      // non-vacuous. NULL predicate = violation (unknowns never pass
      // a gate).
      "q_etl_expectations",
      (s, d) => {
        val orders = Tables.orders(s, d)
        graft.api.Etl.expect(orders, Seq(
            "price_positive" -> (col("o_totalprice") > 0.0),
            "price_under_300k" -> (col("o_totalprice") < 300000.0),
            "status_known" -> col("o_orderstatus").isin("F", "O", "P"),
            "priority_not_low" -> !col("o_orderpriority").startsWith("5")))
          .unionByName(graft.api.Etl.expectUnique(
            orders, "orderkey_unique", col("o_orderkey")))
          .unionByName(graft.api.Etl.expectRefIntegrity(
            Tables.lineitem(s, d), "lineitem_fk_orders",
            col("l_orderkey"), orders, col("o_orderkey")))
          .orderBy(col("check_name"))
      },
      """WITH g AS (
        |  SELECT 'price_positive' AS check_name,
        |    COUNT(CASE WHEN NOT COALESCE(o_totalprice > 0.0, FALSE)
        |          THEN 1 END) AS n FROM orders
        |  UNION ALL SELECT 'price_under_300k',
        |    COUNT(CASE WHEN NOT COALESCE(o_totalprice < 300000.0, FALSE)
        |          THEN 1 END) FROM orders
        |  UNION ALL SELECT 'status_known',
        |    COUNT(CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O','P'),
        |          FALSE) THEN 1 END) FROM orders
        |  UNION ALL SELECT 'priority_not_low',
        |    COUNT(CASE WHEN NOT COALESCE(o_orderpriority NOT LIKE '5%',
        |          FALSE) THEN 1 END) FROM orders
        |  UNION ALL SELECT 'orderkey_unique',
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
        |  UNION ALL SELECT 'lineitem_fk_orders',
        |    (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
        |      (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)))
        |SELECT check_name, n AS n_violations, n = 0 AS pass
        |FROM g ORDER BY check_name""".stripMargin),

    Q(
      // key-distribution skew report over lineitem.l_suppkey — the
      // pre-join diagnostic that decides whether ops.Skew.saltedEquiJoin
      // (or AQE skew handling) is needed BEFORE a 100 TB join runs:
      // per-key counts reduce map-side to a keys-sized frame, then ONE
      // tiny agg computes the shape of the distribution — key count,
      // max, exact discrete quantiles of per-key counts, the top-1
      // key's share of all rows (boundary-exact intRatio4), and the
      // three hottest keys (count desc, key asc) as a CSV. Every
      // number is integer-exact; the only doubles are the final /1e4.
      "q_etl_skew_report",
      (s, d) => {
        val cnts = Tables.lineitem(s, d)
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
        cnts.agg(
            count(lit(1)).as("n_keys"),
            sum(col("cnt")).as("n_rows"),
            max(col("cnt")).as("max_cnt"),
            expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)")
              .cast("long").as("p50_cnt"),
            expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)")
              .cast("long").as("p99_cnt"),
            concat_ws(",", transform(
              slice(sort_array(collect_list(
                struct((-col("cnt")).as("nc"), col("l_suppkey").as("k")))),
                1, 3),
              x => x.getField("k").cast("string"))).as("hot_keys"))
          .withColumn("top1_share",
            graft.Determinism.intRatio4(col("max_cnt") * 10000,
                                        col("n_rows")))
          .select(col("n_keys"), col("n_rows"), col("max_cnt"),
                  col("p50_cnt"), col("p99_cnt"), col("top1_share"),
                  col("hot_keys"))
      },
      """WITH c AS (
        |  SELECT l_suppkey, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY l_suppkey),
        |hot AS (
        |  SELECT string_agg(CAST(l_suppkey AS VARCHAR), ','
        |                    ORDER BY cnt DESC, l_suppkey) AS hot_keys
        |  FROM (SELECT l_suppkey, cnt,
        |          row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS rn
        |        FROM c) WHERE rn <= 3),
        |agg AS (
        |  SELECT COUNT(*) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    MAX(cnt) AS max_cnt,
        |    CAST(quantile_disc(cnt, 0.5) AS BIGINT) AS p50_cnt,
        |    CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_cnt
        |  FROM c)
        |SELECT n_keys, n_rows, max_cnt, p50_cnt, p99_cnt,
        |  CAST((2 * max_cnt * 10000 + n_rows) // (2 * n_rows) AS DOUBLE)
        |    / 10000.0 AS top1_share,
        |  hot.hot_keys
        |FROM agg, hot ORDER BY n_keys""".stripMargin),

    Q(
      // Order-independent table checksum — the cross-cluster
      // reconciliation primitive: after replicating / migrating /
      // re-partitioning a 100 TB table, both sides compute
      // Σ md5₆₀(canonical row) mod (2⁶¹−1) per partition-group and
      // compare 3 tiny rows instead of 60 B wide ones. Pure map-side
      // md5 + one hash-agg (map-side partial sums — the sum is
      // commutative, so ANY row order / partitioning / engine yields
      // the identical digest; that is the whole point). The canonical
      // row string uses only stringification-stable columns: integer
      // keys, exact cents (double → DECIMAL(18,2) → ×100 → BIGINT, the
      // q_events_outliers encoding), and the flag itself. 60-bit row
      // values (15 hex digits) keep Σ within DECIMAL(38,0)/HUGEINT to
      // 10²⁰ rows; the final mod re-enters BIGINT for the comparator.
      "q_etl_table_checksum",
      (s, d) => {
        val rowStr = concat_ws("|",
          col("l_orderkey"), col("l_linenumber"),
          cents("l_extendedprice"),
          col("l_returnflag"))
        graft.api.Etl.tableChecksum(
            Tables.lineitem(s, d), col("l_returnflag"), rowStr)
          .select(col("_g").as("l_returnflag"), col("n_rows"),
                  col("checksum"))
          .orderBy(col("l_returnflag"))
      },
      s"""WITH r AS (
        |  SELECT l_returnflag,
        |    md5(concat_ws('|', l_orderkey, l_linenumber,
        |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |           AS BIGINT),
        |      l_returnflag)) AS h
        |  FROM lineitem),
        |v AS (
        |  SELECT l_returnflag, ${hex15Sql("h")} AS v FROM r)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(v) % 2305843009213693951 AS BIGINT) AS checksum
        |FROM v GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Q(
      // Small-files compaction planner — the OPTIMIZE/bin-packing step
      // every parquet lake schedules: treat each shipdate day's rows as
      // one ingest file, pack files in day order into output files
      // targeting 5000 rows via the streaming rule
      // out = ⌊cum_before / target⌋ (an output closes once it crosses
      // target; the boundary-crossing day stays whole — input files
      // are never split). Returns the PLAN, not the rewrite: per
      // output file its input-file count, row count, and day span.
      // The cumsum window runs on the bounded DAY DOMAIN (~2.5k rows
      // at any SF), never the corpus — the backlog-sweep posture.
      "q_etl_compaction_plan",
      (s, d) => {
        val files = Tables.lineitem(s, d)
          .groupBy(epochDay("l_shipdate").as("day"))
          .agg(count(lit(1)).as("nr"))
        graft.api.Etl.compactionPlan(
            files, col("day"), col("nr"), targetRows = 5000L)
          .select(col("out_file"), col("n_input_files"), col("n_rows"),
                  col("key_min").as("day_min"),
                  col("key_max").as("day_max"))
          .orderBy(col("out_file"))
      },
      """WITH f AS (
        |  SELECT epoch_us(l_shipdate) // 86400000000 AS day,
        |    COUNT(*) AS nr
        |  FROM lineitem GROUP BY epoch_us(l_shipdate) // 86400000000),
        |c AS (
        |  SELECT day, nr,
        |    COALESCE(SUM(nr) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum0
        |  FROM f),
        |a AS (SELECT day, nr,
        |      CAST(cum0 // 5000 AS BIGINT) AS out_file FROM c)
        |SELECT out_file, COUNT(*) AS n_input_files,
        |  CAST(SUM(nr) AS BIGINT) AS n_rows,
        |  MIN(day) AS day_min, MAX(day) AS day_max
        |FROM a GROUP BY out_file ORDER BY out_file""".stripMargin),

    Q(
      // Anti-entropy repair worklist — the checksum's drill-down: two
      // replicas of `orders` (B simulates silent corruption: totals
      // doubled where orderkey ≡ 0 mod 1009) each reduce to per-block
      // digests via api.Etl.tableChecksum grouped by ⌊orderkey/512⌋;
      // blocks whose digests differ are the ONLY ones a repair job
      // must re-transfer — the Merkle/anti-entropy pattern (Dynamo,
      // Cassandra) that turns "compare 100 TB" into "compare block
      // digests, ship the broken 0.1%". Output: the differing blocks
      // with both row counts.
      "q_etl_anti_entropy",
      (s, d) => {
        val a = Tables.orders(s, d)
        val b = a.withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(1009L)) === 0,
               col("o_totalprice") * 2).otherwise(col("o_totalprice")))
        def digest(df: org.apache.spark.sql.DataFrame) =
          graft.api.Etl.tableChecksum(
            df, ldiv(col("o_orderkey"), lit(512L)),
            concat_ws("|", col("o_orderkey"),
                      cents("o_totalprice")))
        digest(a).select(col("_g").as("blk"), col("n_rows").as("rows_a"),
                         col("checksum").as("ck_a"))
          .join(digest(b).select(col("_g").as("_b"),
                                 col("n_rows").as("rows_b"),
                                 col("checksum").as("ck_b")),
                col("blk") === col("_b"), "full_outer")
          .filter(col("ck_a") =!= col("ck_b") ||
                  col("ck_a").isNull || col("ck_b").isNull)
          .select(coalesce(col("blk"), col("_b")).as("blk"),
                  col("rows_a"), col("rows_b"))
          .orderBy(col("blk"))
      },
      {
        def hex15(h: String): String =
          (1 to 15).map { i =>
            val p = BigInt(16).pow(15 - i)
            s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1) * $p"
          }.mkString("(", " + ", ")")
        def side(expr: String, alias: String) =
          s"""$alias AS (
            |  SELECT blk, COUNT(*) AS n_rows,
            |    CAST(SUM(v) % 2305843009213693951 AS BIGINT) AS ck
            |  FROM (
            |    SELECT o_orderkey // 512 AS blk,
            |      ${hex15(s"md5(concat_ws('|', o_orderkey, $expr))")} AS v
            |    FROM orders)
            |  GROUP BY blk)""".stripMargin
        val va = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
          "AS BIGINT)"
        val vb = "CAST(CAST(CASE WHEN o_orderkey % 1009 = 0 " +
          "THEN o_totalprice * 2 ELSE o_totalprice END " +
          "AS DECIMAL(18,2)) * 100 AS BIGINT)"
        s"""WITH ${side(va, "a")},
          |${side(vb, "b")}
          |SELECT COALESCE(a.blk, b.blk) AS blk,
          |  a.n_rows AS rows_a, b.n_rows AS rows_b
          |FROM a FULL OUTER JOIN b ON a.blk = b.blk
          |WHERE a.ck <> b.ck OR a.ck IS NULL OR b.ck IS NULL
          |ORDER BY blk""".stripMargin
      }),

    Q(
      // Header-vs-detail TIE-OUT: every order's o_totalprice against
      // its Σ lineitem extendedprice, reported as counts per
      // relative-error band (≤1 / ≤5 / ≤10 / ≤25 / >25%) plus orders
      // with NO detail rows — the month-end fact-to-fact
      // reconciliation every warehouse runs between a summary and
      // its grain table. Band membership is decided by integer
      // CROSS-MULTIPLICATION on exact cents (|h−d|·100 ≤ h ⟺ rel ≤
      // 1%), never a float ratio whose rounding could flip a
      // boundary order between bands. (The fixture's headers and
      // details are generated independently, so the distribution
      // spreads across bands — which is exactly what the report is
      // for.)
      // Scale shape: one detail hash-agg keyed by orderkey, one
      // header join on the same key, one band rollup; no windows.
      "q_etl_tieout",
      (s, d) => {
        val det = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sumCents("l_extendedprice")
                 .as("dc"))
        val hdr = Tables.orders(s, d)
          .select(col("o_orderkey"),
                  cents("o_totalprice").as("hc"))
        val diff = abs(col("hc") - col("dc"))
        val band = when(col("dc").isNull, "z_missing_detail")
          .when(diff * 100 <= col("hc"), "a_within_1pct")
          .when(diff * 20 <= col("hc"), "b_within_5pct")
          .when(diff * 10 <= col("hc"), "c_within_10pct")
          .when(diff * 4 <= col("hc"), "d_within_25pct")
          .otherwise("e_over_25pct")
        val tot = hdr.agg(count(lit(1)).as("_n"))
        hdr.join(det, col("o_orderkey") === col("l_orderkey"), "left")
          .select(band.as("band"))
          .groupBy(col("band")).agg(count(lit(1)).as("n_orders"))
          .crossJoin(broadcast(tot))
          .select(col("band"), col("n_orders"),
                  intRatio4(col("n_orders") * 10000L, col("_n"))
                    .as("share4"))
          .orderBy(col("band"))
      },
      """WITH det AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |         AS BIGINT) AS dc
        |  FROM lineitem GROUP BY l_orderkey),
        |hdr AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS hc
        |  FROM orders),
        |t AS (SELECT COUNT(*) AS n FROM hdr),
        |b AS (
        |  SELECT CASE
        |    WHEN dc IS NULL THEN 'z_missing_detail'
        |    WHEN abs(hc - dc) * 100 <= hc THEN 'a_within_1pct'
        |    WHEN abs(hc - dc) * 20 <= hc THEN 'b_within_5pct'
        |    WHEN abs(hc - dc) * 10 <= hc THEN 'c_within_10pct'
        |    WHEN abs(hc - dc) * 4 <= hc THEN 'd_within_25pct'
        |    ELSE 'e_over_25pct' END AS band
        |  FROM hdr LEFT JOIN det ON o_orderkey = l_orderkey)
        |SELECT band, COUNT(*) AS n_orders,
        |  CAST((2 * (COUNT(*) * 10000) + t.n) // (2 * t.n) AS DOUBLE)
        |    / 10000.0 AS share4
        |FROM b CROSS JOIN t
        |GROUP BY band, t.n ORDER BY band""".stripMargin),

    Q(
      // Two-proportion z-test: did the share of fully-shipped ('F')
      // orders change between 1997 and 1998 — the categorical-rate
      // companion to q_events_ab_ttest's mean test and the
      // significance layer over q_stats_wilson's single-rate CI.
      // Counts exact; p̂/pooled-p̂/z assemble in ONE identical double
      // expression from those integers (the anova posture); both
      // proportions and the signed z are emitted.
      // Scale shape: one conditional hash-agg per year frame (a
      // single scan with two filters folded into one agg); 1-row
      // math after.
      "q_stats_2prop",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(year(col("o_orderdate")).as("yr"),
                  (col("o_orderstatus") === "F").cast("long").as("f"))
          .filter(col("yr").isin(1997, 1998))
          .groupBy(col("yr"))
          .agg(count(lit(1)).as("n"), sum(col("f")).as("k"))
        val a = o.filter(col("yr") === 1997)
          .select(col("n").as("n1"), col("k").as("k1"))
        val b = o.filter(col("yr") === 1998)
          .select(col("n").as("n2"), col("k").as("k2"))
        val p1 = col("k1").cast("double") / col("n1")
        val p2 = col("k2").cast("double") / col("n2")
        val pp = (col("k1") + col("k2")).cast("double") /
                 (col("n1") + col("n2"))
        a.crossJoin(b)
          .select(col("n1"), col("k1"), col("n2"), col("k2"),
                  r4(p1).as("p1_4"), r4(p2).as("p2_4"),
                  r4((p1 - p2) /
                     sqrt(pp * (lit(1.0) - pp) *
                          (lit(1.0) / col("n1") +
                           lit(1.0) / col("n2")))).as("z4"))
      },
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS k
        |  FROM orders
        |  WHERE CAST(year(o_orderdate) AS INT) IN (1997, 1998)
        |  GROUP BY 1),
        |a AS (SELECT n AS n1, k AS k1 FROM o WHERE yr = 1997),
        |b AS (SELECT n AS n2, k AS k2 FROM o WHERE yr = 1998)
        |SELECT n1, k1, n2, k2,
        |  round(CAST(k1 AS DOUBLE) / n1, 4) + 0 AS p1_4,
        |  round(CAST(k2 AS DOUBLE) / n2, 4) + 0 AS p2_4,
        |  round((CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
        |        / sqrt((CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
        |               * (1.0 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2))
        |               * (1.0 / n1 + 1.0 / n2)), 4) + 0 AS z4
        |FROM a CROSS JOIN b""".stripMargin),

    Q(
      // Surrogate-KEY COLLISION audit (birthday-bound check): hash
      // doc text into the 16-bit hash16 key space, count colliding
      // pairs Σ C(cnt,2), and compare against the birthday
      // expectation n(n−1)/(2·65536) — the key-width sizing audit
      // run before trusting a hashed surrogate key as an identifier
      // (a ratio ≫ 1 means duplicate content or a biased hash; ≈ 1
      // means the space is simply too small for n). Counts exact;
      // expectation and ratio are exact rationals through the wide
      // half-up division — DECIMAL all the way, no float birthday
      // formula. The audited key IS api.Pipeline.hash16 — the same
      // function the split/sampling family trusts.
      // Scale shape: one key hash-agg bounded by the 65536-key
      // domain; O(1) after.
      "q_etl_key_collisions",
      (s, d) => {
        val keys = Tables.documents(s, d)
          .select(graft.api.Pipeline.hash16(col("text")).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("c"))
        val g = keys.agg(
          sum(col("c")).as("n"),
          count(lit(1)).as("n_keys"),
          // c(c−1) is even, so the per-key integral halving is exact
          sum(expr("(c * (c - 1)) div 2")).as("obs"))
        g.select(col("n"), col("n_keys"),
                 col("obs").as("observed_pairs"),
                 intRatio4Wide(
                   (col("n").cast(D38) * (col("n") - 1)) * 10000,
                   lit(2L).cast(D38) * 65536).as("expected4"),
                 when(col("n") >= 2,
                   intRatio4Wide(
                     col("obs").cast(D38) * 2 * 65536 * 10000,
                     col("n").cast(D38) * (col("n") - 1)))
                   .as("obs_exp_ratio4"))
      },
      s"""WITH k AS (
        |  SELECT (${u16Sql("text")}) AS k FROM documents),
        |c AS (SELECT k, COUNT(*) AS c FROM k GROUP BY k),
        |g AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_keys,
        |    CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) // 2 AS HUGEINT)
        |      AS obs
        |  FROM c)
        |SELECT n, n_keys, CAST(obs AS BIGINT) AS observed_pairs,
        |  CAST((2 * (CAST(n AS HUGEINT) * (n - 1) * 10000)
        |        + 2 * 65536)
        |       // (2 * (2 * 65536)) AS DOUBLE) / 10000.0
        |    AS expected4,
        |  CASE WHEN n >= 2 THEN
        |    CAST((2 * (obs * 2 * 65536 * 10000)
        |          + CAST(n AS HUGEINT) * (n - 1))
        |         // (2 * (CAST(n AS HUGEINT) * (n - 1))) AS DOUBLE)
        |      / 10000.0
        |  END AS obs_exp_ratio4
        |FROM g""".stripMargin)
  )

  /** DuckDB twin of Spark's `conv(substring(md5(x), 1, 15), 16, 10)`:
    * the 60-bit integer value of the first 15 md5 hex digits, via the
    * same instr-over-hex-alphabet digit arithmetic as [[u16Sql]]
    * (DuckDB has no conv). Max value 16¹⁵−1 ≈ 1.15e18 < 2⁶³. */
  private def hex15Sql(h: String): String =
    (1 to 15).map { i =>
      val p = BigInt(16).pow(15 - i)
      s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1) * $p"
    }.mkString("(", "\n|     + ", ")")
}
