package graft.ops

import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.functions.GeoMean
import graft.io.Tables

/** SURVEY §2.8 — user-defined function surface: scalar UDF, typed UDAF
  * (Aggregator), and a custom Catalyst Generator as the UDTF.
  *
  * Scale notes: a scalar Scala UDF is an optimizer black box — no
  * predicate pushdown through it, no codegen fusion (q_udf_scalar exists
  * to cover the capability; the same bucketing is expressible as a CASE
  * expression, which is what a 100 TB pipeline should prefer). The
  * Aggregator DOES participate in two-phase aggregation (see GeoMean),
  * and the Generator keeps the plan declarative (see WordNgrams).
  */
object Udx extends OpGroup {

  def qs: Seq[Q] = Seq(
    Q(
      "q_udf_scalar",
      (s, d) => {
        val bucket = udf((p: Double) =>
          if (p < 10000) "low" else if (p < 50000) "mid" else "high")
        Tables.lineitem(s, d)
          .select(bucket(col("l_extendedprice")).as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("bucket"))
      },
      """SELECT CASE WHEN l_extendedprice < 10000 THEN 'low'
        |            WHEN l_extendedprice < 50000 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin),

    Q(
      "q_udaf_geomean",
      (s, d) => {
        val gm = udaf(GeoMean)
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(r4(gm(col("l_quantity"))).as("geomean_qty"),
               count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_quantity))), 4) + 0 AS geomean_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    Q(
      // native TypedImperativeAggregate: top-3 orders per customer via
      // a k-capped min-heap with map-side partials (serialized state,
      // the HLL/percentile-sketch API) — the window idiom this replaces
      // sorts EVERY customer's full order list; the heap shuffles at
      // most k pairs per (group × partition). Oracle is the sorted-list
      // slice: the hash match proves heap and sort agree, ties included.
      "q_agg_topk_by",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
                  cents("o_totalprice").as("cents"))
          .groupBy(col("o_custkey"))
          .agg(expr("topk_by_long(o_orderkey, cents, 3)").as("_t"),
               count(lit(1)).as("n_orders"))
          // R5: arrays crash the driver comparator — CSV the ids
          .select(col("o_custkey"),
                  array_join(expr("transform(_t, x -> cast(x as string))"),
                             ",").as("top3"),
                  col("n_orders"))
          .orderBy(col("o_custkey"))
      },
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders)
        |SELECT o_custkey,
        |  array_to_string(list_transform(
        |    (list(o_orderkey ORDER BY cents DESC, o_orderkey ASC))[1:3],
        |    x -> CAST(x AS VARCHAR)), ',') AS top3,
        |  COUNT(*) AS n_orders
        |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    Q(
      "q_udtf_ngrams",
      (s, d) => {
        Tables.documents(s, d)
          .filter(col("doc_id") < 20)
          .selectExpr("word_ngrams(text, 2) AS bigram")
          .groupBy(col("bigram"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram").asc)
      },
      // oracle tokenizes with the SAME whitespace-robust rule as the
      // generator (ops.toksSql = Java \s — ADVICE r2 flagged the
      // single-space drift here)
      s"""WITH tok AS (
        |  SELECT doc_id, ${toksSql("text")} AS w
        |  FROM documents WHERE doc_id < 20),
        |b AS (
        |  SELECT concat(w[i+1], ' ', w[i+2]) AS bigram
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 1)) AS i
        |        FROM tok WHERE len(w) >= 2))
        |SELECT bigram, COUNT(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram ASC""".stripMargin),

    Q(
      // Misra–Gries heavy-hitters sketch (functions.HeavyHitters), run
      // in its EXACT regime: per source, the language heavy hitters
      // with k=16 ≥ the distinct-language count, so no counter is ever
      // decremented and the sketch provably equals exact counts,
      // deterministically — the oracle-gated face of the sketch. The
      // approximate regime (billions of distinct items, where this is
      // the only bounded-memory option) is property-tested in
      // FunctionsSpec; the re-count pattern (sketch → exact recount of
      // k survivors) is the documented production path.
      "q_agg_heavy_hitters",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(expr("heavy_hitters(lang, 16)").as("_hh"))
          .select(col("source"), explode(col("_hh")).as("h"))
          .select(col("source"), col("h.item").as("lang"),
                  col("h.est").as("n_docs"))
          .orderBy(col("source"), col("lang"))
      },
      """SELECT source, lang, COUNT(*) AS n_docs
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin),

    Q(
      // SQL-defined UDF (Spark 4 `CREATE FUNCTION … RETURN expr`) —
      // the DECLARATIVE userland extension point: unlike the JVM
      // closure above, the body is a Catalyst expression, so it
      // inlines into the plan, keeps codegen fusion and pushdown, and
      // needs no JVM deployment. The oracle inlines the same
      // expression (DuckDB macros can't ship in a single SELECT).
      "q_udf_sql_macro",
      (s, d) => {
        s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_margin_pct(" +
              "price DOUBLE, cost DOUBLE) RETURNS DOUBLE RETURN " +
              "round((price - cost) / price * 100, 4)")
        Tables.part(s, d)
          .filter(col("p_partkey") <= 500)
          .select(col("p_partkey"),
                  expr("graft_margin_pct(p_retailprice, " +
                       "p_retailprice * 0.6)").as("margin_pct"))
          .orderBy(col("p_partkey"))
      },
      """SELECT p_partkey,
        |  round((p_retailprice - p_retailprice * 0.6)
        |        / p_retailprice * 100, 4) + 0 AS margin_pct
        |FROM part WHERE p_partkey <= 500
        |ORDER BY p_partkey""".stripMargin)
  )
}
