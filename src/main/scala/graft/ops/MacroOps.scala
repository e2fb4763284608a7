package graft.ops

import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** Composite multi-join analytics ("macro" queries) — the TPC-H-shaped
  * reports a warehouse user actually runs, stressing what single-operator
  * queries can't: join ORDER across 3–6 tables, dimension broadcast
  * choices, semi-join reduction of fact scans, and top-k pushed through
  * an aggregate.
  *
  * Scale notes (100 TB):
  *  - Every fact-side filter (date range, returnflag, segment) sits
  *    directly on the scan → parquet row-group pruning + PushedFilters.
  *  - Dimension chains (region⋈nation, nation) are broadcast: the fact
  *    table shuffles at most once, on the join key that feeds the final
  *    aggregate.
  *  - Customer acts as a FILTER, not a data source, in the Q3 shape →
  *    LEFT SEMI join: no customer columns survive, so Spark never
  *    carries them through the shuffle.
  *  - Top-k goes through `orderBy().limit(k)` → TakeOrderedAndProject
  *    (per-partition heaps + one k-row driver merge), never a full sort.
  */
object MacroOps extends OpGroup {

  def qs: Seq[Q] = Seq(
    Q(
      // Q3 shape — shipping priority: revenue of undelivered-as-of-date
      // orders for one market segment, top 10 by revenue.
      "q_macro_ship_priority",
      (s, d) => {
        val cut = "1998-06-01"
        // semi join: customers only gate orders, their columns are dead
        val bld = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") < lit(cut))
          .join(bld, col("o_custkey") === col("c_custkey"), "left_semi")
          .select(col("o_orderkey"), col("o_orderdate"),
                  col("o_orderpriority"))
        val l = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit(cut))
          .select(col("l_orderkey"), col("l_extendedprice"),
                  col("l_discount"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"),
                   col("o_orderpriority"))
          .agg(asMoney(sum(money("l_extendedprice") *
            (lit(1).cast(Money) - money("l_discount")))).as("revenue"))
          .select(col("l_orderkey"), col("revenue"),
                  date_format(col("o_orderdate"), "yyyy-MM-dd")
                    .as("orderdate"),
                  col("o_orderpriority"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
      },
      """SELECT l_orderkey,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
        |    AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin),

    Q(
      // Q5 shape — local supplier volume: revenue per nation for one
      // region/year where customer and supplier share the nation.
      // region⋈nation (5 rows) broadcasts onto supplier AND customer;
      // the c_nationkey = s_nationkey condition rides the orders join.
      "q_macro_local_supplier",
      (s, d) => {
        val nat = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
                  .filter(col("r_name") === "ASIA")),
                col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val sup = Tables.supplier(s, d)
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))
        val o = Tables.orders(s, d)
          // a RANGE, not year(col)==1997: the function wrap is not a
          // pushable predicate, so it would defeat row-group pruning —
          // the canonical TPC-H Q5 formulation for the same reason
          .filter(col("o_orderdate") >= lit("1997-01-01") &&
                  col("o_orderdate") < lit("1998-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"),
                  col("l_extendedprice"), col("l_discount"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          // supplier (already region-gated) is a dim: broadcast it so
          // the fact side never shuffles on l_suppkey — without the
          // hint this planned as a sort-merge join at small SFs
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(cust, col("o_custkey") === col("c_custkey") &&
                      col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(asMoney(sum(money("l_extendedprice") *
            (lit(1).cast(Money) - money("l_discount")))).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name").asc)
      },
      """SELECT n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
        |    AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin),

    Q(
      // Q10 shape — returned-item reporting: top 20 customers by lost
      // revenue (returnflag R) in one quarter, with their nation.
      "q_macro_returned_items",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01") &&
                  col("o_orderdate") < lit("1997-04-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val l = Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"),
                  col("l_discount"))
        val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(asMoney(sum(money("l_extendedprice") *
            (lit(1).cast(Money) - money("l_discount")))).as("revenue"))
        rev.join(Tables.customer(s, d),
                 col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
                col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("revenue"),
                  moneyOut("c_acctbal").as("acctbal"), col("n_name"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
      },
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
        |      AS revenue
        |  FROM orders, lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate <  TIMESTAMP '1997-04-01'
        |    AND l_returnflag = 'R'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, revenue,
        |  CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE)
        |    AS acctbal,
        |  n_name
        |FROM rev, customer, nation
        |WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin),

    Q(
      // Q8 shape — market share: of all revenue on ASIA-customer
      // orders, the fraction supplied by NATION_2, per order year.
      // Share-of-total WITHOUT a window or second pass: one
      // conditional aggregate computes total and target in the same
      // hash-agg, and the ratio goes through intRatio4Wide on
      // cent-exact DECIMAL(38,0) (a windowed share or double division
      // would reintroduce the partition-order / rounding hazards;
      // plain intRatio4's long numerator would wrap silently past
      // ~$4.6e12/year — ADVICE r3). Customers gate via
      // LEFT SEMI again; supplier broadcasts with a precomputed flag.
      "q_macro_market_share",
      (s, d) => {
        val asiaKeys = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
                  .filter(col("r_name") === "ASIA")),
                col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))
        val asiaCust = Tables.customer(s, d)
          .join(broadcast(asiaKeys),
                col("c_nationkey") === col("n_nationkey"), "left_semi")
          .select(col("c_custkey"))
        val o = Tables.orders(s, d)
          .join(asiaCust, col("o_custkey") === col("c_custkey"),
                "left_semi")
          .select(col("o_orderkey"),
                  year(col("o_orderdate")).as("yr"))
        val targetKey = Tables.nation(s, d)
          .filter(col("n_name") === "NATION_2").select(col("n_nationkey"))
        val sup = Tables.supplier(s, d)
          .join(broadcast(targetKey),
                col("s_nationkey") === col("n_nationkey"), "left_semi")
          .select(col("s_suppkey").as("t_suppkey"))
        val rev = money("l_extendedprice") *
          (lit(1).cast(Money) - money("l_discount"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), rev.as("rev"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("t_suppkey"),
                "left_outer")
          .groupBy(col("yr"))
          .agg(sum(col("rev")).as("_t"),
               sum(when(col("t_suppkey").isNotNull, col("rev"))
                 .otherwise(lit(0).cast(Money))).as("_m"))
          .select(col("yr"), asMoney(col("_t")).as("revenue"),
                  asMoney(col("_m")).as("nation_revenue"),
                  // the 1e4-scaled cent numerator leaves int64 once a
                  // year-group's revenue passes ~$4.6e12 (long wraps
                  // silently, DuckDB raises → divergence), so the share
                  // runs through the DECIMAL(38,0) form: exact to
                  // ~$10^32 per group, still a single long quotient
                  shareRatio4Wide(col("_m"), col("_t")).as("share"))
          .orderBy(col("yr"))
      },
      """WITH asia AS (
        |  SELECT n_nationkey FROM nation, region
        |  WHERE n_regionkey = r_regionkey AND r_name = 'ASIA'),
        |o AS (
        |  SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr
        |  FROM orders
        |  WHERE o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    WHERE c_nationkey IN (SELECT n_nationkey FROM asia))),
        |tsup AS (
        |  SELECT s_suppkey FROM supplier
        |  WHERE s_nationkey IN (
        |    SELECT n_nationkey FROM nation WHERE n_name = 'NATION_2')),
        |g AS (
        |  SELECT yr,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS t,
        |    SUM(CASE WHEN l_suppkey IN (SELECT s_suppkey FROM tsup)
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS m
        |  FROM lineitem JOIN o ON l_orderkey = o_orderkey
        |  GROUP BY yr)
        |SELECT yr,
        |  CAST(ROUND(t, 2) AS DOUBLE) AS revenue,
        |  CAST(ROUND(m, 2) AS DOUBLE) AS nation_revenue,
        |  CAST((2*CAST(ROUND(m, 2)*1000000 AS HUGEINT)
        |        + CAST(ROUND(t, 2)*100 AS HUGEINT))
        |       // (2*CAST(ROUND(t, 2)*100 AS HUGEINT)) AS DOUBLE)
        |    / 10000.0 AS share
        |FROM g ORDER BY yr""".stripMargin),

    Q(
      // Q7 shape — volume shipping: bilateral revenue between two
      // nations per ship year, BOTH directions (supp NATION_1 → cust
      // NATION_2 and vice versa). Both dimension chains broadcast
      // (supplier+nation is tiny; customer+nation is a dim): the fact
      // table shuffles ONCE, on l_orderkey into orders — the only
      // non-broadcastable side. The n1<>n2 residual rides the join.
      "q_macro_volume_shipping",
      (s, d) => {
        val nat2 = Tables.nation(s, d)
          .filter(col("n_name").isin("NATION_1", "NATION_2"))
        val sup = Tables.supplier(s, d)
          .join(broadcast(nat2.select(col("n_nationkey"),
                                      col("n_name").as("supp_nation"))),
                col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust = Tables.customer(s, d)
          .join(broadcast(nat2.select(col("n_nationkey").as("nk2"),
                                      col("n_name").as("cust_nation"))),
                col("c_nationkey") === col("nk2"))
          .select(col("c_custkey"), col("cust_nation"))
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("cust_nation"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"),
                  year(col("l_shipdate")).as("yr"),
                  (money("l_extendedprice") *
                   (lit(1).cast(Money) - money("l_discount"))).as("rev"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("yr"))
          .agg(asMoney(sum(col("rev"))).as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("yr"))
      },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INTEGER) AS yr,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
        |    AS revenue
        |FROM lineitem, orders, customer, supplier,
        |     nation sn, nation cn
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = sn.n_nationkey
        |  AND c_nationkey = cn.n_nationkey
        |  AND sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin),

    Q(
      // Q14 shape — promo revenue share per ship month: what fraction
      // of each month's revenue came from PROMO-type parts. The
      // part⋈lineitem join broadcasts the dim; total and promo compute
      // in ONE conditional hash-agg (the Q8 trick), and the share goes
      // through intRatio4Wide — the same cent-exact integral division
      // that survives any per-month revenue magnitude.
      "q_macro_promo_share",
      (s, d) => {
        val p = Tables.part(s, d)
          .select(col("p_partkey"), (col("p_type") === "PROMO").as("promo"))
        Tables.lineitem(s, d)
          .select(col("l_partkey"),
                  date_format(col("l_shipdate"), "yyyy-MM").as("mon"),
                  (money("l_extendedprice") *
                   (lit(1).cast(Money) - money("l_discount"))).as("rev"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("mon"))
          .agg(sum(col("rev")).as("_t"),
               sum(when(col("promo"), col("rev"))
                 .otherwise(lit(0).cast(Money))).as("_m"))
          .select(col("mon"),
                  asMoney(col("_m")).as("promo_revenue"),
                  asMoney(col("_t")).as("revenue"),
                  shareRatio4Wide(col("_m"), col("_t"))
                    .as("promo_share"))
          .orderBy(col("mon"))
      },
      """WITH g AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS mon,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS t,
        |    SUM(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS m
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey
        |  GROUP BY mon)
        |SELECT mon,
        |  CAST(ROUND(m, 2) AS DOUBLE) AS promo_revenue,
        |  CAST(ROUND(t, 2) AS DOUBLE) AS revenue,
        |  CAST((2*CAST(ROUND(m, 2)*1000000 AS HUGEINT)
        |        + CAST(ROUND(t, 2)*100 AS HUGEINT))
        |       // (2*CAST(ROUND(t, 2)*100 AS HUGEINT)) AS DOUBLE)
        |    / 10000.0 AS promo_share
        |FROM g ORDER BY mon""".stripMargin),

    Q(
      // Q18 shape — large-volume orders: orders whose total quantity
      // exceeds a threshold, decorated with their customer. AGG-THEN-
      // JOIN: lineitem reduces to (orderkey, qty) and the HAVING
      // filter drops ~95% of groups BEFORE any join — the surviving
      // trickle joins orders, then broadcast customer. Joining first
      // would shuffle the full fact table twice for rows destined to
      // be discarded.
      "q_macro_large_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(money("l_quantity")).as("_q"))
          .filter(col("_q") > 150)
        big.join(Tables.orders(s, d),
                 col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)
                  .select(col("c_custkey"), col("c_name"))),
                col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
                  date_format(col("o_orderdate"), "yyyy-MM-dd")
                    .as("orderdate"),
                  moneyOut("o_totalprice").as("totalprice"),
                  asMoney(col("_q")).as("qty"))
          .orderBy(col("qty").desc, col("o_orderkey").asc)
          .limit(50)
      },
      """WITH big AS (
        |  SELECT l_orderkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE)
        |    AS totalprice,
        |  CAST(ROUND(q, 2) AS DOUBLE) AS qty
        |FROM big, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |ORDER BY qty DESC, o_orderkey ASC
        |LIMIT 50""".stripMargin),

    Q(
      // Q2 shape — minimum-cost supplier per part (no partsupp table in
      // the fixture schema, so "cost" = the cheapest observed
      // l_extendedprice for the part): for each size-10 part, WHICH
      // supplier sold it cheapest. The per-part argmin is ONE hash-agg
      // of min(struct(cents, suppkey)) — the correlated-min subquery
      // TPC-H writes (and the oracle twin runs) without a second fact
      // scan or a join back; ties break to the smaller suppkey inside
      // the same struct comparison. part and supplier broadcast.
      "q_macro_min_cost_supplier",
      (s, d) => {
        val p = Tables.part(s, d)
          .filter(col("p_size") === 10)
          .select(col("p_partkey"), col("p_name"), col("p_brand"))
        val win = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"),
                  cents("l_extendedprice").as("cents"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_partkey"), col("p_name"), col("p_brand"))
          .agg(min(struct(col("cents"), col("l_suppkey"))).as("_w"))
        win.join(broadcast(Tables.supplier(s, d)
                   .select(col("s_suppkey"), col("s_name"))),
                 col("_w.l_suppkey") === col("s_suppkey"))
          .select(col("p_partkey"), col("p_name"), col("p_brand"),
                  (col("_w.cents").cast("double") / 100.0).as("min_price"),
                  col("s_suppkey"), col("s_name"))
          .orderBy(col("p_partkey"))
      },
      """WITH w AS (
        |  SELECT p_partkey, p_name, p_brand,
        |    MIN(struct_pack(c := CAST(CAST(l_extendedprice
        |          AS DECIMAL(18,2)) * 100 AS BIGINT),
        |        s := l_suppkey)) AS mw
        |  FROM lineitem, part
        |  WHERE l_partkey = p_partkey AND p_size = 10
        |  GROUP BY p_partkey, p_name, p_brand)
        |SELECT p_partkey, p_name, p_brand,
        |  CAST(mw.c AS DOUBLE) / 100.0 AS min_price,
        |  mw.s AS s_suppkey, s_name
        |FROM w, supplier
        |WHERE mw.s = s_suppkey
        |ORDER BY p_partkey""".stripMargin)
  )
}
