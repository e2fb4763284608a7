package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.6 extension — frequent-pattern mining: association rules
  * over order baskets (the a-priori support/confidence/lift family),
  * the classic co-occurrence analytics a recommendation or
  * cross-curation pipeline runs over transaction-shaped data.
  */
object MiningOps extends OpGroup {

  private val D38 = DecimalType(38, 0)

  def qs: Seq[Q] = Seq(
    Q(
      // Association rules over order baskets (items = the distinct part
      // BRANDS in an order): every brand pair with relative support
      // ≥ 1/150 of baskets, scored with support / confidence(a→b and
      // b→a) / lift — the a-priori market-basket core. Shape is the
      // textbook scale discipline: baskets reduce to DISTINCT
      // (order, item) first (explode is bounded by basket size, ≤7
      // lineitems), items below 4% basket-support are pruned BEFORE
      // the pair self-join (the a-priori monotonicity cut), and the
      // pair join is an equi-join on the order key with quadratic
      // fan-out only within a basket — never across the corpus. The
      // support threshold is RELATIVE (n_ab·150 ≥ N as exact integers)
      // so the declared result is non-vacuous at every fixture SF.
      // Ratios are exact scale-4 (intRatio4); lift's n_ab·N numerator
      // rides DECIMAL(38,0) (at 100 TB both factors clear 10⁹ and the
      // long product would wrap silently — the intRatio4Wide
      // rationale). Dim side (part → brand) broadcasts.
      "q_basket_rules",
      (s, d) => {
        val brands = Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))
        // r12 (guide §3.3): items feeds three branches (N, item counts,
        // the frequent-item filter) and fitems both self-join sides —
        // lazily planned, the scan+broadcast-join+distinct pipeline ran
        // ~5× and the semi-joined basket table twice. Materialize both
        // once per invocation (localCheckpoint — recomputed from
        // parquet on every invocation, never CacheManager-cached).
        val items = Tables.lineitem(s, d)
          .join(broadcast(brands), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
          .distinct()
          .localCheckpoint()
        val nOrders = items.agg(
          countDistinct(col("ok")).as("_n"))
        val itemCnt = items.groupBy(col("item"))
          .agg(count(lit(1)).as("n_i"))
        val freq = itemCnt.crossJoin(broadcast(nOrders))
          .filter(col("n_i") * 25 >= col("_n"))
          .select(col("item").as("_fi"))
        val fitems = items
          .join(broadcast(freq), col("item") === col("_fi"), "left_semi")
        // r13 (guide §2.3/§2.4; the oracle side's own r9 fix): the
        // fitems × fitems self-join shuffled the corpus item table
        // TWICE and hash-built it against itself — the exact shape
        // whose DuckDB twin spilled without bound at sf10 (see the
        // oracle comment below). One groupBy(ok) collect_list instead:
        // baskets are ≤7 items (distinct brands of ≤7 lineitems), so
        // the sorted per-basket array generates the identical
        // (item_a < item_b) pair multiset with ONE corpus exchange and
        // two bounded explodes — no join, no second shuffle. The r12
        // seam on fitems went with the join that needed it (fitems now
        // has exactly one consumer).
        val pairs = fitems
          .groupBy(col("ok"))
          .agg(sort_array(collect_list(col("item"))).as("_li"))
          .select(posexplode(col("_li")).as(Seq("_i", "item_a")),
                  col("_li"))
          .select(col("item_a"),
                  explode(expr("slice(_li, _i + 2, size(_li))"))
                    .as("item_b"))
          .groupBy(col("item_a"), col("item_b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs.crossJoin(broadcast(nOrders))
          .filter(col("n_ab") * 150 >= col("_n"))
          .join(broadcast(itemCnt.select(col("item").as("_ia"),
                                         col("n_i").as("n_a"))),
                col("item_a") === col("_ia"))
          .join(broadcast(itemCnt.select(col("item").as("_ib"),
                                         col("n_i").as("n_b"))),
                col("item_b") === col("_ib"))
          .select(col("item_a"), col("item_b"), col("n_ab"),
                  col("n_a"), col("n_b"),
                  intRatio4(col("n_ab") * 10000L, col("_n"))
                    .as("support4"),
                  intRatio4(col("n_ab") * 10000L, col("n_a"))
                    .as("conf_ab4"),
                  intRatio4(col("n_ab") * 10000L, col("n_b"))
                    .as("conf_ba4"),
                  intRatio4Wide(
                    col("n_ab").cast(D38) * col("_n") * 10000,
                    col("n_a").cast(D38) * col("n_b")).as("lift4"))
          .orderBy(col("item_a"), col("item_b"))
      },
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |n AS (SELECT COUNT(DISTINCT ok) AS nn FROM items),
        |ic AS (SELECT item, COUNT(*) AS n_i FROM items GROUP BY item),
        |freq AS (
        |  SELECT item FROM ic, n WHERE n_i * 25 >= nn),
        |fitems AS (
        |  SELECT * FROM items WHERE item IN (SELECT item FROM freq)),
        |-- pair generation from per-basket SORTED item lists (r9): the
        |-- former fitems x fitems self-join hash-built the whole corpus
        |-- item table against itself and spilled without bound at sf10
        |-- (~55M rows each side); unnesting i<j positions of a <=|items|
        |-- list generates exactly the same (item_a < item_b) pair
        |-- multiset with per-basket fan-out only - the oracle twin of
        |-- the Spark side's within-basket quadratic discipline
        |bk AS (
        |  SELECT ok, list_sort(list(item)) AS li FROM fitems GROUP BY ok),
        |x1 AS (
        |  SELECT li, unnest(range(0, len(li))) AS i FROM bk),
        |x2 AS (
        |  SELECT li, i, unnest(range(i + 1, len(li))) AS j FROM x1),
        |pairs AS (
        |  SELECT li[i+1] AS item_a, li[j+1] AS item_b, COUNT(*) AS n_ab
        |  FROM x2 GROUP BY 1, 2)
        |SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(ia.n_i AS BIGINT) AS n_a, CAST(ib.n_i AS BIGINT) AS n_b,
        |  CAST((2*(n_ab*10000) + nn) // (2*nn) AS DOUBLE) / 10000.0
        |    AS support4,
        |  CAST((2*(n_ab*10000) + ia.n_i) // (2*ia.n_i) AS DOUBLE)
        |    / 10000.0 AS conf_ab4,
        |  CAST((2*(n_ab*10000) + ib.n_i) // (2*ib.n_i) AS DOUBLE)
        |    / 10000.0 AS conf_ba4,
        |  CAST((2*(CAST(n_ab AS HUGEINT) * nn * 10000)
        |        + CAST(ia.n_i AS HUGEINT) * ib.n_i)
        |       // (2*(CAST(ia.n_i AS HUGEINT) * ib.n_i)) AS DOUBLE)
        |    / 10000.0 AS lift4
        |FROM pairs
        |JOIN ic ia ON pairs.item_a = ia.item
        |JOIN ic ib ON pairs.item_b = ib.item
        |CROSS JOIN n
        |WHERE n_ab * 150 >= nn
        |ORDER BY item_a, item_b""".stripMargin)
  )
}
