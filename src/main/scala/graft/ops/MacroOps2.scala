package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Determinism._
import graft.io.Tables

/** The rest of the TPC-H macro suite (MacroOps has Q2/Q3/Q5/Q7/Q8/Q10/
  * Q14/Q18 shapes; q_agg_group is the Q1 shape). The fixture schema is a
  * reduced TPC-H — no partsupp / l_shipmode / l_commitdate / l_receiptdate
  * / c_phone — so each query keeps the SHAPE that makes the original
  * interesting (the join topology, the subquery class, the agg trick) and
  * adapts the predicate to columns that exist, exactly as
  * q_macro_min_cost_supplier did for Q2.
  *
  * Scale notes (100 TB), per shape:
  *  - EXISTS/NOT-EXISTS become LEFT SEMI / LEFT ANTI joins (never a
  *    count-subquery): semi/anti carry no payload columns through the
  *    shuffle and short-circuit on the first match.
  *  - Correlated scalar aggregates (Q17's per-part avg) become one
  *    hash-agg on the semi-reduced fact subset + a broadcast join back —
  *    the fact table is scanned once for the stats and once for the
  *    probe, both times pre-filtered by the broadcast part list.
  *  - Global scalar aggregates (Q11's total, Q15's max, Q22's avg) are
  *    one-row frames cross-joined as broadcasts: no second shuffle of the
  *    grouped data, no window-over-everything.
  *  - Ratio/threshold comparisons stay in exact integer/decimal
  *    cross-multiplied form (qty·2·cnt < sum, val·1000 > total,
  *    bal·cnt > sum) — no double division whose rounding could differ
  *    between engines or between partition orders.
  */
object MacroOps2 extends OpGroup {

  def qs: Seq[Q] = Seq(
    Q(
      // Q4 shape — order priority checking: orders in a half-year window
      // with at least one badly late lineitem (shipped >60 days after
      // the order date; the fixture has no commit/receipt dates). The
      // EXISTS is a LEFT SEMI hash join on l_orderkey with the lateness
      // residual evaluated IN the join — lineitem contributes no columns
      // and each order passes on the first late match.
      "q_macro_order_priority",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01") &&
                  col("o_orderdate") < lit("1997-07-01"))
          .select(col("o_orderkey"), col("o_orderdate"),
                  col("o_orderpriority"))
        val l = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_shipdate"))
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
                  col("l_shipdate") >
                    col("o_orderdate") + expr("INTERVAL 60 DAYS"),
               "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    Q(
      // Q6 shape — revenue-change forecast: one tight scan-filter-agg,
      // every predicate sitting directly on scan columns (PushedFilters
      // + row-group pruning carry the whole query at 100 TB; no join at
      // all). Revenue here is price×discount — what would be given up
      // if the discount were dropped.
      "q_macro_rev_forecast",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
                col("l_shipdate") < lit("1998-01-01") &&
                col("l_discount").between(0.04, 0.06) &&
                col("l_quantity") < 24)
        .agg(asMoney(sum(money("l_extendedprice") * money("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue")),
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.04 AND 0.06
        |  AND l_quantity < 24""".stripMargin),

    Q(
      // Q9 shape — product-type profit by nation and year, for parts
      // whose name matches a pattern. No partsupp ⇒ unit cost is the
      // part's retail price (profit = discounted revenue − qty·retail,
      // exact decimal end-to-end, no division). The name-filtered part
      // list and supplier⋈nation both broadcast; the fact table shuffles
      // exactly once, into the (nation, year) hash-agg.
      "q_macro_product_profit",
      (s, d) => {
        val p = Tables.part(s, d)
          .filter(col("p_name").contains("widget"))
          .select(col("p_partkey"), col("p_retailprice"))
        val supN = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
                col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"),
                  year(col("l_shipdate")).as("yr"),
                  col("l_extendedprice"), col("l_discount"),
                  col("l_quantity"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name"), col("yr"))
          .agg(asMoney(sum(
            money("l_extendedprice") *
              (lit(1).cast(Money) - money("l_discount")) -
            money("l_quantity") * money("p_retailprice"))).as("profit"))
          .orderBy(col("n_name"), col("yr").desc)
      },
      """SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS yr,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |    - CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(p_retailprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS profit
        |FROM lineitem, part, supplier, nation
        |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey AND p_name LIKE '%widget%'
        |GROUP BY n_name, yr
        |ORDER BY n_name, yr DESC""".stripMargin),

    Q(
      // Q11 shape — important stock: parts whose value (from one
      // nation's suppliers) exceeds a fraction of the total. The
      // correlated HAVING > (SELECT sum…) is a one-row broadcast
      // cross-join; the threshold compares val·1000 > total in EXACT
      // decimals — scale-invariant, no double epsilon.
      "q_macro_important_stock",
      (s, d) => {
        val natSup = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
                  .filter(col("n_name") === "NATION_3")
                  .select(col("n_nationkey"))),
                col("s_nationkey") === col("n_nationkey"), "left_semi")
          .select(col("s_suppkey"))
        val v = Tables.lineitem(s, d)
          .join(broadcast(natSup),
                col("l_suppkey") === col("s_suppkey"), "left_semi")
          .groupBy(col("l_partkey"))
          .agg(sum(money("l_extendedprice") *
            (lit(1).cast(Money) - money("l_discount"))).as("_v"))
          // r13 (guide §3.3): v — one lineitem pass collapsed to the
          // partkey domain — fed the total and the threshold filter:
          // 2 re-planned corpus scans in plans/r13/..._before.txt.
          // A/B: 0.95× at sf0.1 / 1.05× at sf1 (plans/r13/ab/) —
          // kept on the at-scale number
          .seam()
        val tot = v.agg(sum(col("_v")).as("_tot"))
        v.crossJoin(broadcast(tot))
          .filter(col("_v") * 1000 > col("_tot"))
          .select(col("l_partkey").as("partkey"),
                  asMoney(col("_v")).as("part_value"))
          .orderBy(col("part_value").desc, col("partkey"))
      },
      """WITH v AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS val
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier, nation
        |    WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3')
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS partkey,
        |  CAST(ROUND(val, 2) AS DOUBLE) AS part_value
        |FROM v WHERE val * 1000 > (SELECT SUM(val) FROM v)
        |ORDER BY part_value DESC, partkey""".stripMargin),

    Q(
      // Q12 shape — shipping-mode priority split. No l_shipmode ⇒ the
      // "mode" is l_linestatus, and "late" is shipped >90 days after the
      // order date. The priority split is ONE conditional hash-agg
      // (count(CASE…)) after a single equi-join — the Q8/Q14 trick again,
      // so high and low counts ride the same shuffle.
      "q_macro_late_modes",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderdate"),
                  col("o_orderpriority"))
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01") &&
                  col("l_shipdate") < lit("1998-01-01"))
          .select(col("l_orderkey"), col("l_shipdate"), col("l_linestatus"))
          .join(o, col("l_orderkey") === col("o_orderkey") &&
                   col("l_shipdate") >
                     col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .groupBy(col("l_linestatus"))
          .agg(count(when(hi, 1)).as("high_count"),
               count(when(!hi, 1)).as("low_count"))
          .orderBy(col("l_linestatus"))
      },
      """SELECT l_linestatus,
        |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS high_count,
        |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |        THEN 1 END) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin),

    Q(
      // Q13 shape — customer order-count distribution: LEFT OUTER join
      // so zero-order customers keep c_count = 0 (count(col) skips the
      // join's NULLs), then a second hash-agg folds customers into a
      // distribution. Two shuffles total, both on shrinking data.
      "q_macro_cust_distribution",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey"))
        Tables.customer(s, d).select(col("c_custkey"))
          .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      """WITH c AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    Q(
      // Q15 shape — top supplier(s): quarterly revenue per supplier,
      // keep the max. The scalar-max subquery is a one-row broadcast
      // joined back on EXACT decimal equality (both engines sum the
      // same cents exactly, so rev = max(rev) is well-defined — the
      // double form of this query would be flaky in both).
      "q_macro_top_supplier",
      (s, d) => {
        val r = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01") &&
                  col("l_shipdate") < lit("1997-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(sum(money("l_extendedprice") *
            (lit(1).cast(Money) - money("l_discount"))).as("_rev"))
        val m = r.agg(max(col("_rev")).as("_mx"))
        r.join(broadcast(m), col("_rev") === col("_mx"))
          .join(broadcast(Tables.supplier(s, d)
                  .select(col("s_suppkey"), col("s_name"))),
                col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
                  asMoney(col("_rev")).as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      """WITH r AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(ROUND(rev, 2) AS DOUBLE) AS total_revenue
        |FROM r, supplier
        |WHERE l_suppkey = s_suppkey AND rev = (SELECT max(rev) FROM r)
        |ORDER BY s_suppkey""".stripMargin),

    Q(
      // Q16 shape — supplier count per part attribute group. lineitem's
      // (partkey, suppkey) pairs stand in for partsupp; the complaint
      // NOT IN becomes a LEFT ANTI against the (tiny, broadcast)
      // negative-balance supplier list BEFORE the part join, so excluded
      // rows never reach the wider join or the distinct agg.
      "q_macro_parts_supplier_cnt",
      (s, d) => {
        val badSup = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        val p = Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#5" &&
                  col("p_type") =!= "PROMO" &&
                  col("p_size").isin(1, 5, 10, 15, 20, 25))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
                  col("p_size"))
        Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(badSup),
                col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"),
                   col("p_type"), col("p_size"))
      },
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    Q(
      // Q17 shape — small-quantity-order revenue: lineitems of one
      // brand's parts whose quantity is under half that part's average.
      // The correlated avg subquery: semi-reduce lineitem to the
      // brand's parts FIRST (broadcast), compute per-part stats on that
      // subset in one hash-agg, broadcast them back. The threshold is
      // cross-multiplied (qty·2·cnt < Σqty) — exact integers/decimals,
      // no avg division at all. avg_yearly derives from the exact cent
      // sum via integral division (fixture spans 7 ship years).
      "q_macro_small_qty_revenue",
      (s, d) => {
        val p = Tables.part(s, d)
          .filter(col("p_brand") === "Brand#3").select(col("p_partkey"))
        val li3 = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_quantity"),
                  col("l_extendedprice"))
          .join(broadcast(p),
                col("l_partkey") === col("p_partkey"), "left_semi")
        val pa = li3.groupBy(col("l_partkey").as("pk"))
          .agg(count(lit(1)).as("cnt"), sum(money("l_quantity")).as("sq"))
        li3.join(broadcast(pa), col("l_partkey") === col("pk"))
          .filter(money("l_quantity") * 2 * col("cnt") < col("sq"))
          .agg(sum(money("l_extendedprice")).as("_s"))
          .select(asMoney(col("_s")).as("revenue"),
                  avgExact4Wide(round(col("_s"), 2), lit(7))
                    .as("avg_yearly"))
          .orderBy(col("revenue"))
      },
      """WITH pa AS (
        |  SELECT l_partkey AS pk, count(*) AS cnt,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY l_partkey),
        |s AS (
        |  SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
        |  FROM lineitem, part, pa
        |  WHERE l_partkey = p_partkey AND l_partkey = pk
        |    AND p_brand = 'Brand#3'
        |    AND CAST(l_quantity AS DECIMAL(18,2)) * 2 * cnt < sq)
        |SELECT CAST(ROUND(s, 2) AS DOUBLE) AS revenue,
        |  CAST((2*CAST(ROUND(s, 2)*10000 AS HUGEINT) + 7) // 14
        |       AS DOUBLE) / 10000.0 AS avg_yearly
        |FROM s""".stripMargin),

    Q(
      // Q19 shape — discounted revenue under a three-way disjunction of
      // (brand, quantity-band, size-band) predicates. The equi-join on
      // partkey broadcasts; the OR-of-ANDs stays a RESIDUAL on that one
      // join (Catalyst cannot split it, but it also never becomes a
      // nested loop) — the shape that proves disjunctions don't break
      // the join planning.
      "q_macro_disjunctive_rev",
      (s, d) => {
        val p = Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_quantity"),
                  col("l_extendedprice"), col("l_discount"))
        val cond =
          (col("p_brand") === "Brand#1" &&
            col("l_quantity").between(1, 11) &&
            col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#2" &&
            col("l_quantity").between(10, 20) &&
            col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#3" &&
            col("l_quantity").between(20, 30) &&
            col("p_size").between(1, 15))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(cond)
          .agg(asMoney(sum(money("l_extendedprice") *
            (lit(1).cast(Money) - money("l_discount")))).as("revenue"))
          .orderBy(col("revenue"))
      },
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
        |    AS revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND (
        |     (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
        |      AND p_size BETWEEN 1 AND 5)
        |  OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
        |      AND p_size BETWEEN 1 AND 10)
        |  OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
        |      AND p_size BETWEEN 1 AND 15))""".stripMargin),

    Q(
      // Q21 shape — suppliers who kept orders waiting: in 'F' orders
      // with >1 distinct supplier, exactly one of which shipped late,
      // count the orders each such supplier solely delayed. The
      // original's EXISTS + NOT-EXISTS double self-join of lineitem
      // collapses into ONE per-order hash-agg (distinct suppliers,
      // distinct late suppliers, the lone late suppkey via max) — the
      // fact table is scanned and shuffled once instead of three times,
      // which is the difference between feasible and not at 100 TB.
      "q_macro_waiting_suppliers",
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate"))
        val late = col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS")
        // r13 (guide §2.3): the two countDistincts are DIFFERENT
        // expressions over l_suppkey, so Spark's distinct-aggregate
        // rewrite Expanded every joined fact row ×3 into the first
        // aggregate (plans/r13/..._before.txt operator (9)) with no
        // map-side combine. Two plain hash-aggs instead: collapse to
        // the distinct (order, supplier) grain with any_late =
        // max(late) — map-side combinable, no Expand — then per order
        // ns = row count, nl = late-supplier count, lone = max late
        // suppkey. A supplier is "late" iff ANY of its lineitems in
        // the order is late — exactly max(late) over the pair group —
        // so all three outputs are identical to the distinct forms.
        // countDistinct skips NULL suppliers and count(*) would not:
        // drop them before the (order, supplier) grain
        val po = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .filter(col("l_suppkey").isNotNull)
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(late).as("_late"))
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("ns"),
               count(when(col("_late"), 1)).as("nl"),
               max(when(col("_late"), col("l_suppkey"))).as("lone"))
        val natSup = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
                  .filter(col("n_name") === "NATION_1")
                  .select(col("n_nationkey"))),
                col("s_nationkey") === col("n_nationkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
        // pre-aggregate per suppKEY (map-side-combinable, shrinks the
        // frame before the broadcast join), then RE-group by s_name —
        // the oracle's Q21 grouping. The two differ whenever names are
        // not unique per key: the r6 sf1 oracle gate caught exactly
        // that (ScaleUp replicas share s_name → spark=310 vs
        // oracle=31 rows), a semantic mismatch invisible at any SF
        // with unique names.
        po.filter(col("ns") > 1 && col("nl") === 1)
          .groupBy(col("lone"))
          .agg(count(lit(1)).as("nw"))
          .join(broadcast(natSup), col("lone") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(sum(col("nw")).cast("long").as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      },
      """WITH po AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS ns,
        |    count(DISTINCT CASE WHEN l_shipdate >
        |        o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS nl,
        |    max(CASE WHEN l_shipdate >
        |        o_orderdate + INTERVAL 60 DAY THEN l_suppkey END) AS lone
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM po, supplier, nation
        |WHERE ns > 1 AND nl = 1 AND lone = s_suppkey
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin),

    Q(
      // Q22 shape — sales opportunity: well-funded customers of three
      // nations with no recent orders. The avg-balance scalar subquery
      // is a one-row broadcast compared by cross-multiplication
      // (bal·cnt > Σbal, exact decimals); the NOT EXISTS is a LEFT ANTI
      // against the date-filtered orders projection (o_custkey only —
      // nothing else crosses the shuffle).
      "q_macro_sales_opportunity",
      (s, d) => {
        val pool = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)
                  .filter(col("n_name")
                    .isin("NATION_1", "NATION_4", "NATION_7"))
                  .select(col("n_nationkey"), col("n_name"))),
                col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_acctbal"), col("n_name"))
        val stats = pool.filter(col("c_acctbal") > 0)
          .agg(count(lit(1)).as("cnt"), sum(money("c_acctbal")).as("s"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-06-01"))
          .select(col("o_custkey"))
        pool.crossJoin(broadcast(stats))
          .filter(money("c_acctbal") * col("cnt") > col("s"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("numcust"),
               asMoney(sum(money("c_acctbal"))).as("totacctbal"))
          .orderBy(col("n_name"))
      },
      """WITH pool AS (
        |  SELECT c_custkey, c_acctbal, n_name
        |  FROM customer, nation
        |  WHERE c_nationkey = n_nationkey
        |    AND n_name IN ('NATION_1', 'NATION_4', 'NATION_7')),
        |avgbal AS (
        |  SELECT count(*) AS cnt,
        |    SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s
        |  FROM pool WHERE c_acctbal > 0)
        |SELECT n_name, count(*) AS numcust,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS totacctbal
        |FROM pool, avgbal
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > s
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Q(
      // Q20 shape — potential part promotion: NATION_2 suppliers who
      // DOMINATED the 1997 supply of a name-matched part (shipped more
      // than half that part's year total; no partsupp ⇒ dominance
      // stands in for availqty > ½·shipped). The original's
      // triple-nested IN chain becomes: broadcast part list semi-gates
      // lineitem → per-part totals broadcast back (the Q17 machinery)
      // → the dominance HAVING → a distinct supplier set that
      // LEFT-SEMI-gates the nation-filtered supplier dim. Thresholds
      // cross-multiplied in exact decimals; every nesting level is a
      // semi-join, never a count subquery.
      "q_macro_excess_supply",
      (s, d) => {
        val wp = Tables.part(s, d)
          .filter(col("p_name").contains("widget")).select(col("p_partkey"))
        val li = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01") &&
                  col("l_shipdate") < lit("1998-01-01"))
          .select(col("l_partkey"), col("l_suppkey"),
                  money("l_quantity").as("q"))
          .join(broadcast(wp),
                col("l_partkey") === col("p_partkey"), "left_semi")
        val tot = li.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("q")).as("tot"))
        val dom = li.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("q")).as("sq"))
          .join(broadcast(tot), col("l_partkey") === col("pk"))
          .filter(col("sq") * 2 > col("tot"))
          .select(col("l_suppkey")).distinct()
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
                  .filter(col("n_name") === "NATION_2")
                  .select(col("n_nationkey"))),
                col("s_nationkey") === col("n_nationkey"), "left_semi")
          .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
          .orderBy(col("s_suppkey"))
      },
      """WITH wp AS (
        |  SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'),
        |li AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM wp)),
        |tot AS (SELECT l_partkey AS pk, SUM(q) AS tot FROM li
        |        GROUP BY l_partkey),
        |dom AS (
        |  SELECT l_suppkey FROM li JOIN tot ON l_partkey = pk
        |  GROUP BY l_partkey, l_suppkey, tot HAVING SUM(q)*2 > tot)
        |SELECT s_suppkey, s_name FROM supplier, nation
        |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_2'
        |  AND s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s_suppkey""".stripMargin),

    Q(
      // YoY growth per market segment: revenue by (segment, year) and
      // its growth vs the prior year — the BI report every revenue
      // dashboard leads with. Cent sums stay exact through the lag;
      // growth is ONE double expression over two exact cent longs
      // (r4 + the oracle's +0 −0.0 guard since growth can be
      // negative); the lag window runs on the tiny segment×year
      // domain, never the corpus.
      "q_macro_yoy_growth",
      (s, d) => {
        val rev = Tables.orders(s, d)
          .join(Tables.customer(s, d),
                col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"),
                   year(col("o_orderdate")).cast("int").as("yr"))
          .agg((sum(money("o_totalprice")) * 100).cast("long").as("vc"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("segment")).orderBy(col("yr"))
        rev.withColumn("pv", lag(col("vc"), 1).over(w))
          .select(col("segment"), col("yr"),
                  (col("vc").cast("double") / 100.0).as("revenue"),
                  when(col("pv").isNotNull && col("pv") =!= 0L,
                    r4((col("vc") - col("pv")).cast("double") /
                       col("pv").cast("double"))).as("yoy4"))
          .orderBy(col("segment"), col("yr"))
      },
      """WITH rev AS (
        |  SELECT c_mktsegment AS segment,
        |    CAST(year(o_orderdate) AS INTEGER) AS yr,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |         AS BIGINT) AS vc
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, year(o_orderdate)),
        |l AS (
        |  SELECT segment, yr, vc,
        |    lag(vc, 1) OVER (PARTITION BY segment ORDER BY yr) AS pv
        |  FROM rev)
        |SELECT segment, yr, CAST(vc AS DOUBLE) / 100.0 AS revenue,
        |  CASE WHEN pv IS NOT NULL AND pv <> 0 THEN
        |    round(CAST(vc - pv AS DOUBLE) / CAST(pv AS DOUBLE), 4) + 0
        |  END AS yoy4
        |FROM l ORDER BY segment, yr""".stripMargin),

    Q(
      // Pareto 80/20 headline: what revenue share do the top 20% (and
      // top 10%) of customers hold — the concentration number next to
      // q_stats_gini's coefficient. Customer revenue collapses to the
      // hash-agg'd customer frame first; the rank comes from the
      // DISTRIBUTED prefix count over the (revenue desc, custkey)
      // total order (r9 — the customer frame is a KEY dimension,
      // 150k·SF: a single-task row_number there was the gini weakness
      // wearing a different name), and the customer count rides the
      // prefix sum's own grand total, so no separate count frame or
      // cross join exists at all. Count cutoffs k = ⌊n/5⌋, ⌊n/10⌋;
      // shares exact cents through intRatio4Wide.
      "q_macro_pareto_share",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val cust = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg((sum(money("o_totalprice")) * 100).cast("long").as("vc"))
        val ranked = graft.Determinism.distCumSumsBy(
          cust.withColumn("negv", -col("vc")).withColumn("one", lit(1L)),
          Seq("negv", "o_custkey"), Seq("one"))
        val m = ranked.agg(
          count(lit(1)).as("n_customers"),
          sum(col("vc")).cast(D38).as("tot"),
          sum(when(col("cum_one") <= expr("tot_one div 5"),
            col("vc")).otherwise(0L)).cast(D38).as("t20"),
          sum(when(col("cum_one") <= expr("tot_one div 10"),
            col("vc")).otherwise(0L)).cast(D38).as("t10"))
        m.select(col("n_customers"),
                 intRatio4Wide(col("t20") * 10000, col("tot"))
                   .as("top20_share4"),
                 intRatio4Wide(col("t10") * 10000, col("tot"))
                   .as("top10_share4"))
      },
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |         AS BIGINT) AS vc
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT vc,
        |    ROW_NUMBER() OVER (ORDER BY vc DESC, o_custkey) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM cust),
        |m AS (
        |  SELECT COUNT(*) AS n_customers,
        |    CAST(SUM(vc) AS HUGEINT) AS tot,
        |    CAST(SUM(CASE WHEN rn <= n // 5 THEN vc ELSE 0 END)
        |         AS HUGEINT) AS t20,
        |    CAST(SUM(CASE WHEN rn <= n // 10 THEN vc ELSE 0 END)
        |         AS HUGEINT) AS t10
        |  FROM r)
        |SELECT n_customers,
        |  CAST((2*(t20*10000) + tot) // (2*tot) AS DOUBLE) / 10000.0
        |    AS top20_share4,
        |  CAST((2*(t10*10000) + tot) // (2*tot) AS DOUBLE) / 10000.0
        |    AS top10_share4
        |FROM m""".stripMargin),

    Q(
      // Herfindahl–Hirschman supplier-concentration index per nation —
      // the antitrust/supply-risk concentration number that reads next
      // to Pareto top-k shares and gini: HHI = Σᵢ shareᵢ² over each
      // nation's supplier revenue. Exact WITHOUT ever forming float
      // shares, via the identity Σ(cᵢ/T)² = Σcᵢ²/T²: per-supplier
      // revenue in exact 1e-4 currency units (cᵢ), squares and total
      // both accumulate in DECIMAL(38,0) (HUGEINT twin), ONE wide
      // half-up division at the end. Bound: Σcᵢ² stays under 38 digits
      // until a nation's supplier revenues reach ~1e16 units of 1e14²
      // — past any real SF; a long accumulator would wrap at ~$4.6e5.
      // Scale shape: lineitem collapses per-supplier in one hash-agg
      // (map-side partials), nation joins broadcast, the HHI agg runs
      // on the supplier-sized frame.
      "q_macro_hhi",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val rev = money("l_extendedprice") *
          (lit(1).cast(Money) - money("l_discount"))
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))
        val nat = Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))
        Tables.lineitem(s, d)
          .select(col("l_suppkey"), rev.as("rev"))
          .groupBy(col("l_suppkey")).agg(sum(col("rev")).as("srev"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name"), (col("srev") * 10000).cast(D).as("c"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_suppliers"),
               sum(col("c") * col("c")).as("_sq"),
               sum(col("c")).as("_tot"))
          .select(col("n_name"), col("n_suppliers"),
                  intRatio4Wide(col("_sq") * 10000,
                                col("_tot") * col("_tot")).as("hhi4"))
          .orderBy(col("n_name"))
      },
      """WITH ps AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS srev
        |  FROM lineitem GROUP BY l_suppkey),
        |c AS (
        |  SELECT n.n_name, CAST(ps.srev * 10000 AS HUGEINT) AS c
        |  FROM ps
        |  JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
        |g AS (
        |  SELECT n_name, COUNT(*) AS n_suppliers,
        |    SUM(c * c) AS sq, SUM(c) AS tot
        |  FROM c GROUP BY n_name)
        |SELECT n_name, CAST(n_suppliers AS BIGINT) AS n_suppliers,
        |  CAST((2 * (sq * 10000) + tot * tot) // (2 * (tot * tot))
        |       AS DOUBLE) / 10000.0 AS hhi4
        |FROM g ORDER BY n_name""".stripMargin),

    Q(
      // SEASONAL INDEX (ratio-to-average): each month's revenue vs
      // its year's average month — the classic BI seasonality table
      // (index 1.0 = typical month) that q_macro_yoy_growth's annual
      // deltas can't show. Exact: index = mrev·n_months/ytot through
      // the DECIMAL(38) half-up ratio (never a float year-average);
      // partial years divide by their OWN month count, so the index
      // is honest at the calendar edges.
      // Scale shape: orders collapse to (year, month) in one
      // hash-agg; the year totals broadcast back to ≤84 rows.
      "q_macro_seasonal_index",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val rev = Tables.orders(s, d)
          .select(year(col("o_orderdate")).as("yr"),
                  month(col("o_orderdate")).as("mo"),
                  (money("o_totalprice") * 100).cast("long").as("vc"))
          .groupBy(col("yr"), col("mo"))
          .agg(sum(col("vc")).as("mrev"))
        val ytot = rev.groupBy(col("yr").as("y2"))
          .agg(sum(col("mrev")).as("ytot"), count(lit(1)).as("nmo"))
        rev.join(broadcast(ytot), col("yr") === col("y2"))
          .select(col("yr"), col("mo"),
                  (col("mrev").cast("double") / 100.0).as("revenue"),
                  intRatio4Wide(
                    col("mrev").cast(D) * col("nmo") * 10000,
                    col("ytot")).as("index4"))
          .orderBy(col("yr"), col("mo"))
      },
      """WITH r AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |    CAST(month(o_orderdate) AS INT) AS mo,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
        |         AS BIGINT) AS mrev
        |  FROM orders GROUP BY 1, 2),
        |y AS (
        |  SELECT yr, CAST(SUM(mrev) AS HUGEINT) AS ytot,
        |    COUNT(*) AS nmo
        |  FROM r GROUP BY yr)
        |SELECT r.yr, r.mo,
        |  CAST(mrev AS DOUBLE) / 100.0 AS revenue,
        |  CAST((2 * (CAST(mrev AS HUGEINT) * nmo * 10000) + ytot)
        |       // (2 * ytot) AS DOUBLE) / 10000.0 AS index4
        |FROM r JOIN y USING (yr) ORDER BY yr, mo""".stripMargin),

    Q(
      // Customer REPEAT RATE per year — the retention headline of any
      // commerce BI deck (what share of this year's buyers bought
      // more than once): one (year, customer) hash-agg with order
      // counts, one year rollup, rate half-up exact. Pairs with
      // q_events_retention (event-side cohorts) on the orders side.
      // Scale shape: two hash-aggs, keys only; no window, no join.
      "q_macro_repeat_rate",
      (s, d) => {
        val perCust = Tables.orders(s, d)
          .select(year(col("o_orderdate")).as("yr"), col("o_custkey"))
          .groupBy(col("yr"), col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        perCust.groupBy(col("yr"))
          .agg(count(lit(1)).as("n_customers"),
               sum(when(col("n_orders") >= 2, 1L).otherwise(0L))
                 .as("n_repeat"))
          .select(col("yr"), col("n_customers"), col("n_repeat"),
                  intRatio4(col("n_repeat") * 10000L,
                            col("n_customers")).as("repeat_rate4"))
          .orderBy(col("yr"))
      },
      """WITH pc AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr, o_custkey,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1, 2),
        |g AS (
        |  SELECT yr, COUNT(*) AS n_customers,
        |    CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_repeat
        |  FROM pc GROUP BY yr)
        |SELECT yr, n_customers, n_repeat,
        |  CAST((2 * (n_repeat * 10000) + n_customers)
        |       // (2 * n_customers) AS DOUBLE) / 10000.0
        |    AS repeat_rate4
        |FROM g ORDER BY yr""".stripMargin),

    Q(
      // ABC (Pareto-class) part segmentation: parts ranked by revenue,
      // classified by cumulative share — A carries the first 80%, B to
      // 95%, C the tail — the inventory-policy classification behind
      // every "manage the vital few" ops decision, reported as class
      // rollups. Class boundaries are decided by EXACT integer
      // cross-multiplication (cum·100 ≤ tot·80), never a rounded
      // share, so a part can't flap classes across engines; the
      // cumulative runs over a total (rev DESC, partkey) order.
      // Scale shape (r9): the part frame is a KEY dimension (200k·SF —
      // it grows with the corpus), so the cumulative revenue comes
      // from the DISTRIBUTED two-pass prefix sum ordered on
      // (−rev, partkey) — lexicographic ascending on the negated
      // revenue IS the (rev DESC, partkey) total order — never a
      // single-task window; the 3-row class rollup stays a literal-
      // bounded window.
      "q_macro_abc",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val perPart = Tables.lineitem(s, d)
          .select(col("l_partkey"),
                  (money("l_extendedprice") *
                   (lit(1).cast(Money) - money("l_discount")))
                    .as("rev"))
          .groupBy(col("l_partkey"))
          .agg((sum(col("rev")) * 10000).cast(D).as("c"))
        val wAll = Window.partitionBy(lit(1))
        val cls = graft.Determinism.distCumSumsBy(
            perPart.withColumn("negc", (col("c") * -1).cast(D)),
            Seq("negc", "l_partkey"), Seq("c"))
          .withColumn("cls",
            when(col("cum_c") * 100 <= col("tot_c") * 80, "A")
              .when(col("cum_c") * 100 <= col("tot_c") * 95, "B")
              .otherwise("C"))
        cls.groupBy(col("cls"))
          .agg(count(lit(1)).as("n_parts"), sum(col("c")).as("_crev"))
          .withColumn("_t", sum(col("_crev")).over(wAll))
          .select(col("cls"), col("n_parts"),
                  intRatio4Wide(col("_crev") * 10000, col("_t"))
                    .as("rev_share4"))
          .orderBy(col("cls"))
      },
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2))))
        |         * 10000 AS HUGEINT) AS c
        |  FROM lineitem GROUP BY l_partkey),
        |r AS (
        |  SELECT l_partkey, c,
        |    SUM(c) OVER (ORDER BY c DESC, l_partkey
        |                 ROWS BETWEEN UNBOUNDED PRECEDING
        |                 AND CURRENT ROW) AS cum,
        |    SUM(c) OVER () AS tot
        |  FROM pp),
        |cl AS (
        |  SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
        |              WHEN cum * 100 <= tot * 95 THEN 'B'
        |              ELSE 'C' END AS cls, c
        |  FROM r),
        |g AS (
        |  SELECT cls, COUNT(*) AS n_parts,
        |    CAST(SUM(c) AS HUGEINT) AS crev
        |  FROM cl GROUP BY cls),
        |t AS (SELECT CAST(SUM(crev) AS HUGEINT) AS t FROM g)
        |SELECT cls, n_parts,
        |  CAST((2 * (crev * 10000) + t.t) // (2 * t.t) AS DOUBLE)
        |    / 10000.0 AS rev_share4
        |FROM g CROSS JOIN t ORDER BY cls""".stripMargin),

    Q(
      // Discount ELASTICITY per brand: OLS slope of quantity on
      // discount over each brand's lineitems — does a deeper discount
      // move more units, the pricing team's first regression. x =
      // discount in exact 1e-2 units (integers 0..10), y = quantity
      // (integer): all four moment sums Σx Σy Σxy Σx² are EXACT
      // integers from one hash-agg, the slope (nΣxy−ΣxΣy)/(nΣx²−
      // (Σx)²) is one double division of those integers (the
      // q_stats_linreg posture, applied per brand), r4 at the end.
      // Degenerate brands (all lineitems at one discount) emit the
      // same null on both engines.
      // Scale shape: one conditional hash-agg to |brands| rows;
      // everything after is brand-sized.
      "q_macro_elasticity",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val li = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)
                  .select(col("p_partkey"), col("p_brand"))),
                col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"),
                  (money("l_discount") * 100).cast("long").as("x"),
                  col("l_quantity").cast("long").as("y"))
        val g = li.groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
               sum(col("x")).as("sx"), sum(col("y")).as("sy"),
               sum(col("x") * col("y")).as("sxy"),
               sum(col("x") * col("x")).as("sxx"))
        val den = (col("n").cast(D) * col("sxx") -
                   col("sx").cast(D) * col("sx"))
        val num = (col("n").cast(D) * col("sxy") -
                   col("sx").cast(D) * col("sy"))
        g.select(col("p_brand"), col("n"),
                 when(den =!= 0,
                   r4(num.cast("double") / den.cast("double")))
                   .as("slope4"))
          .orderBy(col("p_brand"))
      },
      """WITH li AS (
        |  SELECT p_brand,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS x,
        |    CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |g AS (
        |  SELECT p_brand, COUNT(*) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx,
        |    CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(x * x) AS HUGEINT) AS sxx
        |  FROM li GROUP BY p_brand)
        |SELECT p_brand, n,
        |  CASE WHEN n * sxx - sx * sx <> 0 THEN
        |    round(CAST(n * sxy - sx * sy AS DOUBLE)
        |          / CAST(n * sxx - sx * sx AS DOUBLE), 4) + 0
        |  END AS slope4
        |FROM g ORDER BY p_brand""".stripMargin),

    Q(
      // NESTED share drill-down: each nation's revenue as a share of
      // its REGION and of the WORLD, plus the region's world share —
      // the two-level decomposition every share-of-market drill
      // starts from (and the check that nested shares multiply:
      // nation/world = nation/region × region/world, which holds
      // exactly on the cent level these ratios are taken from). All
      // three ratios are wide half-up divisions of exact cent sums;
      // region totals reach nations by a broadcast join, never a
      // second corpus pass.
      // Scale shape: lineitem → supplier-nation in one hash-agg
      // (dims broadcast); region/world totals are window-free
      // rollups of the 25-row nation frame.
      "q_macro_share_nested",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val supN = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
                col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
                col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("n_name"), col("r_name"))
        val nat = Tables.lineitem(s, d)
          .select(col("l_suppkey"),
                  (money("l_extendedprice") *
                   (lit(1).cast(Money) - money("l_discount")))
                    .as("rev"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg((sum(col("rev")) * 10000).cast(D).as("c"))
          // r13 (guide §1.1, TRIED AND REVERTED): nat is re-planned
          // into 12 scans (plans/r13/..._before.txt); the §3.3 seam
          // measured 0.43× at sf0.1 and 0.73× at sf1 (plans/r13/ab/)
          // — the worst of the batch-2 sweep; duplicate subtrees
          // overlap on idle capacity, the seam serializes
        val reg = nat.groupBy(col("r_name").as("_r"))
          .agg(sum(col("c")).as("rc"))
        val world = nat.agg(sum(col("c")).as("wc"))
        nat.join(broadcast(reg), col("r_name") === col("_r"))
          .crossJoin(broadcast(world))
          .select(col("r_name"), col("n_name"),
                  intRatio4Wide(col("c") * 10000, col("rc"))
                    .as("of_region4"),
                  intRatio4Wide(col("c") * 10000, col("wc"))
                    .as("of_world4"),
                  intRatio4Wide(col("rc") * 10000, col("wc"))
                    .as("region_of_world4"))
          .orderBy(col("r_name"), col("n_name"))
      },
      """WITH sn AS (
        |  SELECT s_suppkey, n_name, r_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |nat AS (
        |  SELECT r_name, n_name,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2))))
        |         * 10000 AS HUGEINT) AS c
        |  FROM lineitem JOIN sn ON l_suppkey = s_suppkey
        |  GROUP BY r_name, n_name),
        |reg AS (
        |  SELECT r_name AS r2, CAST(SUM(c) AS HUGEINT) AS rc
        |  FROM nat GROUP BY r_name),
        |w AS (SELECT CAST(SUM(c) AS HUGEINT) AS wc FROM nat)
        |SELECT r_name, n_name,
        |  CAST((2 * (c * 10000) + rc) // (2 * rc) AS DOUBLE)
        |    / 10000.0 AS of_region4,
        |  CAST((2 * (c * 10000) + wc) // (2 * wc) AS DOUBLE)
        |    / 10000.0 AS of_world4,
        |  CAST((2 * (rc * 10000) + wc) // (2 * wc) AS DOUBLE)
        |    / 10000.0 AS region_of_world4
        |FROM nat JOIN reg ON r_name = r2 CROSS JOIN w
        |ORDER BY r_name, n_name""".stripMargin),

    Q(
      // Fulfillment LEAD TIME per order priority: p50/p90/p99 of the
      // order-to-ship lag in whole days — the SLA table an operations
      // team pins on the wall, and the check that "URGENT" actually
      // ships faster. Lags are exact integer day differences
      // (epoch-µs div), percentiles are DISCRETE picks
      // (percentile_disc — an element of the data, never an
      // interpolated float), so the whole table is integers.
      // Scale shape: one lineitem⋈orders equi-join (the fact join
      // shuffles once on orderkey), one priority-keyed percentile
      // agg; output is 5 rows.
      "q_macro_lead_time",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
                  expr("unix_micros(cast(o_orderdate as timestamp))")
                    .as("ots"))
        val lag = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
                  expr("unix_micros(cast(l_shipdate as timestamp))")
                    .as("lts"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"),
                  expr("(lts - ots) div 86400000000").as("days"))
        lag.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"),
               expr("percentile_disc(0.5) WITHIN GROUP " +
                    "(ORDER BY days)").as("_p50"),
               expr("percentile_disc(0.9) WITHIN GROUP " +
                    "(ORDER BY days)").as("_p90"),
               expr("percentile_disc(0.99) WITHIN GROUP " +
                    "(ORDER BY days)").as("_p99"))
          .select(col("o_orderpriority"), col("n_lines"),
                  col("_p50").cast("long").as("p50"),
                  col("_p90").cast("long").as("p90"),
                  col("_p99").cast("long").as("p99"))
          .orderBy(col("o_orderpriority"))
      },
      """WITH lag AS (
        |  SELECT o_orderpriority,
        |    (epoch_us(l_shipdate) - epoch_us(o_orderdate))
        |      // 86400000000 AS days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(quantile_disc(days, 0.5) AS BIGINT) AS p50,
        |  CAST(quantile_disc(days, 0.9) AS BIGINT) AS p90,
        |  CAST(quantile_disc(days, 0.99) AS BIGINT) AS p99
        |FROM lag GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    Q(
      // PRICE–VOLUME bridge per brand, 1997→1998: the FP&A
      // decomposition ΔR = volume effect + price effect, with
      // volume = Δq·(r₁/q₁) and price = r₂ − q₂·(r₁/q₁) — each
      // effect's numerator (Δq·r₁, r₂q₁ − q₂r₁) is an exact integer
      // product of cent and quantity sums, and each rounds ONCE via
      // the sign-mirrored wide division (intRatio4Wide — effects are
      // routinely negative, and the unmirrored halfUpDivWide plus
      // DuckDB's floor-`//` disagree on negatives: caught by the
      // oracle on first run, 19/25 rows). The two rounded effects
      // reconstruct ΔR to within their two 1e-4 roundings. "Why did
      // revenue move — more units, or different prices" per brand.
      // Scale shape: one conditional hash-agg per year folded into a
      // single (brand, year) agg; pivot to brand rows; \|brands\|-
      // sized math after.
      "q_macro_price_volume",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val li = Tables.lineitem(s, d)
          .filter(year(col("l_shipdate")).isin(1997, 1998))
          .join(broadcast(Tables.part(s, d)
                  .select(col("p_partkey"), col("p_brand"))),
                col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), year(col("l_shipdate")).as("yr"),
                  (money("l_extendedprice") * 100).cast("long")
                    .as("rc"),
                  col("l_quantity").cast("long").as("q"))
        val g = li.groupBy(col("p_brand"))
          .agg(sum(when(col("yr") === 1997, col("rc")).otherwise(0L))
                 .as("r1"),
               sum(when(col("yr") === 1997, col("q")).otherwise(0L))
                 .as("q1"),
               sum(when(col("yr") === 1998, col("rc")).otherwise(0L))
                 .as("r2"),
               sum(when(col("yr") === 1998, col("q")).otherwise(0L))
                 .as("q2"))
          .filter(col("q1") > 0)
        g.select(col("p_brand"),
                 ((col("r2") - col("r1")).cast("double") / 100.0)
                   .as("delta_rev"),
                 intRatio4Wide(
                   (col("q2") - col("q1")).cast(D) * col("r1") * 100,
                   col("q1")).as("volume_effect"),
                 intRatio4Wide(
                   (col("r2").cast(D) * col("q1") -
                      col("q2").cast(D) * col("r1")) * 100,
                   col("q1")).as("price_effect"))
          .orderBy(col("p_brand"))
      },
      """WITH li AS (
        |  SELECT p_brand, CAST(year(l_shipdate) AS INT) AS yr,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT) AS rc,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE CAST(year(l_shipdate) AS INT) IN (1997, 1998)),
        |g AS (
        |  SELECT p_brand,
        |    CAST(SUM(CASE WHEN yr = 1997 THEN rc ELSE 0 END)
        |         AS HUGEINT) AS r1,
        |    CAST(SUM(CASE WHEN yr = 1997 THEN q ELSE 0 END)
        |         AS HUGEINT) AS q1,
        |    CAST(SUM(CASE WHEN yr = 1998 THEN rc ELSE 0 END)
        |         AS HUGEINT) AS r2,
        |    CAST(SUM(CASE WHEN yr = 1998 THEN q ELSE 0 END)
        |         AS HUGEINT) AS q2
        |  FROM li GROUP BY p_brand)
        |SELECT p_brand,
        |  CAST(r2 - r1 AS DOUBLE) / 100.0 AS delta_rev,
        |  CASE WHEN (q2 - q1) * r1 >= 0 THEN
        |    CAST((2 * ((q2 - q1) * r1 * 100) + q1) // (2 * q1)
        |         AS DOUBLE) / 10000.0
        |  ELSE
        |    -(CAST((2 * (-((q2 - q1) * r1) * 100) + q1) // (2 * q1)
        |           AS DOUBLE) / 10000.0)
        |  END AS volume_effect,
        |  CASE WHEN r2 * q1 - q2 * r1 >= 0 THEN
        |    CAST((2 * ((r2 * q1 - q2 * r1) * 100) + q1) // (2 * q1)
        |         AS DOUBLE) / 10000.0
        |  ELSE
        |    -(CAST((2 * (-(r2 * q1 - q2 * r1) * 100) + q1)
        |           // (2 * q1) AS DOUBLE) / 10000.0)
        |  END + 0 AS price_effect
        |FROM g WHERE q1 > 0 ORDER BY p_brand""".stripMargin),

    Q(
      // AGGREGATION-BIAS audit (the Simpson's-paradox guardrail): per
      // market segment, the revenue-WEIGHTED discount rate
      // (Σ disc·price / Σ price) next to the unweighted mean line
      // discount (Σ disc / n) and their gap — the two "average
      // discount" numbers a dashboard can silently swap, diverging
      // exactly when discounts correlate with ticket size. Both
      // rates and the SIGNED gap are exact: numerators/denominators
      // are integer cent/1e-2 sums, every division is the
      // sign-mirrored wide half-up form.
      // Scale shape: one fact⋈customer-keyed hash-agg (dim
      // broadcast); segment-sized math after.
      "q_macro_agg_bias",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val li = Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
                  .select(col("o_orderkey"), col("o_custkey")),
                col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)
                  .select(col("c_custkey"), col("c_mktsegment"))),
                col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"),
                  (money("l_discount") * 100).cast("long").as("dc"),
                  (money("l_extendedprice") * 100).cast("long")
                    .as("pc"))
        val g = li.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
               sum(col("dc")).as("sd"),
               sum(col("pc")).as("sp"),
               sum(col("dc").cast(D) * col("pc")).as("sdp"))
        g.select(col("c_mktsegment"), col("n"),
                 intRatio4Wide(col("sdp") * 100, col("sp"))
                   .as("weighted_rate4"),
                 intRatio4Wide(col("sd").cast(D) * 100, col("n"))
                   .as("unweighted_rate4"),
                 intRatio4Wide(
                   (col("sdp") * col("n") -
                    col("sd").cast(D) * col("sp")) * 100,
                   col("sp").cast(D) * col("n")).as("gap4"))
          .orderBy(col("c_mktsegment"))
      },
      """WITH li AS (
        |  SELECT c_mktsegment,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS dc,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT) AS pc
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey),
        |g AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
        |    CAST(SUM(dc) AS HUGEINT) AS sd,
        |    CAST(SUM(pc) AS HUGEINT) AS sp,
        |    CAST(SUM(CAST(dc AS HUGEINT) * pc) AS HUGEINT) AS sdp
        |  FROM li GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n,
        |  CAST((2 * (sdp * 100) + sp) // (2 * sp) AS DOUBLE)
        |    / 10000.0 AS weighted_rate4,
        |  CAST((2 * (sd * 100) + CAST(n AS HUGEINT))
        |       // (2 * CAST(n AS HUGEINT)) AS DOUBLE) / 10000.0
        |    AS unweighted_rate4,
        |  CASE WHEN sdp * n - sd * sp >= 0 THEN
        |    CAST((2 * ((sdp * n - sd * sp) * 100) + sp * n)
        |         // (2 * (sp * CAST(n AS HUGEINT))) AS DOUBLE)
        |      / 10000.0
        |  ELSE
        |    -(CAST((2 * (-(sdp * n - sd * sp) * 100) + sp * n)
        |           // (2 * (sp * CAST(n AS HUGEINT))) AS DOUBLE)
        |      / 10000.0)
        |  END + 0 AS gap4
        |FROM g ORDER BY c_mktsegment""".stripMargin)
  )
}
