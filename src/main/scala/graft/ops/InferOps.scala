package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.6 extension (round 6, third batch) — inferential statistics
  * over categorical and lagged structure: association strength between
  * two categorical columns (Cramér's V, Theil's U), an ordered-
  * alternative trend test over blocked ranks (Page's L), multiple-
  * comparison control (Benjamini–Hochberg FDR over a per-nation test
  * family), and lag-structure explanatory power (Granger-style F test).
  *
  * Scale doctrine (same as SignalOps): the corpus collapses FIRST to a
  * bounded frame — a ≤15-cell contingency table, an ~80-month block
  * grid, a 25-nation family, the ~2.4k-day calendar — in one map-side-
  * combinable hash-agg; everything after runs on that domain, whose
  * size is a property of the schema, not the data volume. Decisions
  * (ranks, rejections, argmaxes) ride exact integer/DECIMAL(38,0)
  * arithmetic or longs quantized from doubles the SAME way on both
  * engines; unavoidable doubles appear in identical formula shapes and
  * are r4-rounded.
  */
object InferOps extends OpGroup {

  /** Abramowitz–Stegun 7.1.26 complementary error function — the SAME
    * literal polynomial rendered on both engines, so the two-sided
    * normal p-value 2·(1−Φ(|z|)) = erfc(|z|/√2) is computed by an
    * identical double expression tree (max abs error 1.5e-7, far finer
    * than the 1e-6 quantization the BH decision runs on). */
  private def erfc(x: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    (((((lit(1.061405429) * t - lit(1.453152027)) * t +
        lit(1.421413741)) * t - lit(0.284496736)) * t +
        lit(0.254829592)) * t) * exp(-x * x)
  }

  private def erfcSql(x: String): String =
    s"((((((1.061405429 * (1.0/(1.0 + 0.3275911 * ($x)))" +
      s" - 1.453152027) * (1.0/(1.0 + 0.3275911 * ($x)))" +
      s" + 1.421413741) * (1.0/(1.0 + 0.3275911 * ($x)))" +
      s" - 0.284496736) * (1.0/(1.0 + 0.3275911 * ($x)))" +
      s" + 0.254829592) * (1.0/(1.0 + 0.3275911 * ($x))))" +
      s" * exp(-($x)*($x)))"

  /** The shared 3×5 order contingency table (o_orderstatus ×
    * o_orderpriority): one corpus hash-agg to ≤15 cells; row/col
    * marginals reduce further. The whole family after this is
    * catalog-sized math. */
  private def cells(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("st"),
               col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("o"))

  private val cellsSql =
    """cells AS (
      |  SELECT o_orderstatus AS st, o_orderpriority AS pri,
      |    COUNT(*) AS o
      |  FROM orders GROUP BY 1, 2)"""

  def qs: Seq[Q] = Seq(

    Q(
      // Cramér's V association between order status and order priority
      // — "are these two categoricals related, and how strongly, on a
      // 0..1 scale?" (the χ²-based effect size a dashboard wants next
      // to every χ² p-value). The corpus collapses to the ≤15-cell
      // contingency table in one hash-agg; χ² is computed from the
      // identity χ² = N·(Σ_ij o_ij²/(r_i·c_j) − 1) with each term an
      // exact half-up integer at scale 1e12 in DECIMAL(38,0) — o_ij²
      // leaves int64 at ~3e9 rows, so the widening is load-bearing at
      // 100 TB, not decoration. V = sqrt(χ²/(N·(min(r,c)−1))) is the
      // one final double.
      "q_stats_cramers_v",
      (s, d) => {
        val c = cells(s, d)
        val r = c.groupBy(col("st")).agg(sum(col("o")).as("r"))
        val k = c.groupBy(col("pri")).agg(sum(col("o")).as("cc"))
        val terms = c
          .join(broadcast(r), "st").join(broadcast(k), "pri")
          .agg(sum(halfUpDivWideDec(
                 (col("o").cast(D38) * col("o")).cast(D38) *
                   lit(1000000000000L),
                 (col("r").cast(D38) * col("cc")).cast(D38))).as("t"),
               sum(col("o")).as("n"),
               countDistinct(col("st")).as("nr"),
               countDistinct(col("pri")).as("nc"))
        terms.select(
          col("n").cast("long").as("n"),
          col("nr"), col("nc"),
          intRatio4Wide(
            (col("n").cast(D38) *
             (col("t") - lit(1000000000000L)).cast(D38)).cast(D38),
            lit(100000000L)).as("chi2_4"))
          .select(col("n"), col("nr"), col("nc"), col("chi2_4"),
                  r4(sqrt(col("chi2_4") /
                          (col("n") *
                           (least(col("nr"), col("nc")) - 1))
                            .cast("double"))).as("v4"))
      },
      s"""WITH ${cellsSql.stripMargin},
        |r AS (SELECT st, SUM(o) AS r FROM cells GROUP BY st),
        |k AS (SELECT pri, SUM(o) AS cc FROM cells GROUP BY pri),
        |t AS (
        |  SELECT
        |    SUM((2*(CAST(c.o AS HUGEINT) * c.o * 1000000000000)
        |         + (CAST(r.r AS HUGEINT) * k.cc))
        |        // (2*(CAST(r.r AS HUGEINT) * k.cc))) AS t,
        |    SUM(c.o) AS n,
        |    COUNT(DISTINCT c.st) AS nr,
        |    COUNT(DISTINCT c.pri) AS nc
        |  FROM cells c JOIN r ON c.st = r.st JOIN k ON c.pri = k.pri),
        |chi AS (
        |  SELECT CAST(n AS BIGINT) AS n, nr, nc,
        |    ${"(CASE WHEN (CAST(n AS HUGEINT) * (t - 1000000000000))" +
             " >= 0 THEN (2*(CAST(n AS HUGEINT) * (t - 1000000000000))" +
             " + 100000000) // (2*100000000)" +
             " ELSE -((2*(-(CAST(n AS HUGEINT) * (t - 1000000000000)))" +
             " + 100000000) // (2*100000000)) END)"}
        |      AS chi2s
        |  FROM t)
        |SELECT n, nr, nc,
        |  CAST(chi2s AS DOUBLE) / 10000.0 AS chi2_4,
        |  round(sqrt((CAST(chi2s AS DOUBLE) / 10000.0)
        |             / CAST(n * (LEAST(nr, nc) - 1) AS DOUBLE)), 4) + 0
        |    AS v4
        |FROM chi""".stripMargin),

    Q(
      // Theil's uncertainty coefficient U — the DIRECTIONAL companion
      // to Cramér's V: how much of the entropy of one categorical does
      // knowing the other remove? (U(pri|st) ≠ U(st|pri) — the
      // asymmetry V cannot express.) Same ≤15-cell contingency table;
      // each entropy term −p·ln(p) is quantized to an exact 1e-9
      // integer BEFORE summation, so the tiny-frame sums are
      // partition-order-free longs and the engines can never disagree
      // by a summation-order ulp; the U ratios divide exact longs.
      "q_stats_theil_u",
      (s, d) => {
        val c = cells(s, d)
        val r = c.groupBy(col("st")).agg(sum(col("o")).as("r"))
        val k = c.groupBy(col("pri")).agg(sum(col("o")).as("cc"))
        val n = c.agg(sum(col("o")).as("n"))
        def q9(p: Column): Column =
          round(p * lit(1000000000L), 0).cast("long")
        // H(Y) over col marginals, H(X) over row marginals, joint terms
        val hy = k.crossJoin(broadcast(n))
          .agg(sum(q9(-(col("cc").cast("double") / col("n")) *
                     log(col("cc").cast("double") / col("n"))))
                 .as("hy9"))
        val hx = r.crossJoin(broadcast(n))
          .agg(sum(q9(-(col("r").cast("double") / col("n")) *
                     log(col("r").cast("double") / col("n"))))
                 .as("hx9"))
        val hygx = c.join(broadcast(r), "st").crossJoin(broadcast(n))
          .agg(sum(q9(-(col("o").cast("double") / col("n")) *
                     log(col("o").cast("double") / col("r"))))
                 .as("hygx9"))
        val hxgy = c.join(broadcast(k), "pri").crossJoin(broadcast(n))
          .agg(sum(q9(-(col("o").cast("double") / col("n")) *
                     log(col("o").cast("double") / col("cc"))))
                 .as("hxgy9"))
        hy.crossJoin(broadcast(hx)).crossJoin(broadcast(hygx))
          .crossJoin(broadcast(hxgy))
          .select(
            r4(col("hy9").cast("double") / 1e9).as("h_pri4"),
            r4(col("hx9").cast("double") / 1e9).as("h_st4"),
            r4((col("hy9") - col("hygx9")).cast("double") /
               col("hy9").cast("double")).as("u_pri_given_st4"),
            r4((col("hx9") - col("hxgy9")).cast("double") /
               col("hx9").cast("double")).as("u_st_given_pri4"))
      },
      s"""WITH ${cellsSql.stripMargin},
        |r AS (SELECT st, SUM(o) AS r FROM cells GROUP BY st),
        |k AS (SELECT pri, SUM(o) AS cc FROM cells GROUP BY pri),
        |n AS (SELECT SUM(o) AS n FROM cells),
        |hy AS (
        |  SELECT SUM(CAST(round(-(CAST(cc AS DOUBLE) / n)
        |    * ln(CAST(cc AS DOUBLE) / n) * 1000000000, 0) AS BIGINT))
        |    AS hy9
        |  FROM k, n),
        |hx AS (
        |  SELECT SUM(CAST(round(-(CAST(r AS DOUBLE) / n)
        |    * ln(CAST(r AS DOUBLE) / n) * 1000000000, 0) AS BIGINT))
        |    AS hx9
        |  FROM r, n),
        |hygx AS (
        |  SELECT SUM(CAST(round(-(CAST(c.o AS DOUBLE) / n.n)
        |    * ln(CAST(c.o AS DOUBLE) / r.r) * 1000000000, 0) AS BIGINT))
        |    AS hygx9
        |  FROM cells c JOIN r ON c.st = r.st, n),
        |hxgy AS (
        |  SELECT SUM(CAST(round(-(CAST(c.o AS DOUBLE) / n.n)
        |    * ln(CAST(c.o AS DOUBLE) / k.cc) * 1000000000, 0) AS BIGINT))
        |    AS hxgy9
        |  FROM cells c JOIN k ON c.pri = k.pri, n)
        |SELECT
        |  round(CAST(hy9 AS DOUBLE) / 1e9, 4) + 0 AS h_pri4,
        |  round(CAST(hx9 AS DOUBLE) / 1e9, 4) + 0 AS h_st4,
        |  round(CAST(hy9 - hygx9 AS DOUBLE) / CAST(hy9 AS DOUBLE), 4)
        |    + 0 AS u_pri_given_st4,
        |  round(CAST(hx9 - hxgy9 AS DOUBLE) / CAST(hx9 AS DOUBLE), 4)
        |    + 0 AS u_st_given_pri4
        |FROM hy, hx, hygx, hxgy""".stripMargin),

    Q(
      // Page's L trend test — Friedman's ORDERED-alternative sibling:
      // not "do the five priorities differ?" but "does revenue rise
      // MONOTONICALLY from priority 1 to 5 across the ~80 month
      // blocks?" (the test a pipeline runs on an ordinal treatment —
      // quality tiers, dedup aggressiveness levels, context-length
      // buckets). Same machinery as q_stats_friedman: complete blocks
      // only, within-block average ranks kept integer by doubling
      // (r2 = 2·rank + ties − 1), treatment index j = the priority's
      // leading digit. L2 = Σ j·r2 is an exact long (= 2L); the
      // z-score against E[L2] = 90·b, sd[L2] = 10·√b (tie-uncorrected,
      // documented) is the one final double.
      "q_stats_page_trend",
      (s, d) => {
        val Frames.MonthBlocks(full, ranked) = Frames.monthBlocks(s, d,
          substring(col("o_orderpriority"), 1, 1).cast("long").as("j"),
          "j")
        val l2 = ranked.agg(sum(col("j") * col("r2")).as("L2"))
        val nb = full.agg(count(lit(1)).as("b"))
        l2.crossJoin(broadcast(nb))
          .select(col("b").as("n_blocks"), col("L2").as("l2"),
                  r4((col("L2") - lit(90L) * col("b")).cast("double") /
                     (lit(10.0) * sqrt(col("b").cast("double"))))
                    .as("z4"))
      },
      """WITH cell AS (
        |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS j,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS v
        |  FROM orders GROUP BY 1, 2),
        |full_m AS (
        |  SELECT ym FROM cell GROUP BY ym HAVING COUNT(*) = 5),
        |ranked AS (
        |  SELECT c.j,
        |    2 * RANK() OVER (PARTITION BY c.ym ORDER BY c.v)
        |      + COUNT(*) OVER (PARTITION BY c.ym, c.v) - 1 AS r2
        |  FROM cell c JOIN full_m f ON c.ym = f.ym),
        |l2 AS (SELECT SUM(j * r2) AS L2 FROM ranked),
        |nb AS (SELECT COUNT(*) AS b FROM full_m)
        |SELECT CAST(b AS BIGINT) AS n_blocks, CAST(L2 AS BIGINT) AS l2,
        |  round(CAST(L2 - 90 * b AS DOUBLE)
        |        / (10.0 * sqrt(CAST(b AS DOUBLE))), 4) + 0 AS z4
        |FROM l2, nb""".stripMargin),

    Q(
      // Benjamini–Hochberg FDR over a 25-test family — per nation, a
      // two-proportion z-test of "is this nation's finished-order rate
      // different from the global rate?", then the step-up multiple-
      // comparison control every metrics platform needs the day it
      // runs one test per segment. The corpus collapses to 25
      // (n, k) pairs in one hash-agg; p-values come from the SAME
      // literal A&S erfc polynomial on both engines and are quantized
      // to exact 1e-6 longs BEFORE the BH comparison, so the
      // reject/keep decision p6_(i) ≤ i·α·10⁶/m compares exact
      // integers (α = 0.05, m = 25 ⇒ threshold 2000·i). The rank
      // window orders the 25-row aggregate — domain-bounded.
      "q_stats_fdr_bh",
      (s, d) => {
        // r13 (guide §1.1, TRIED AND REVERTED): fam is re-planned into
        // 12 corpus scans (plans/r13/..._before.txt); the §3.3 seam
        // measured 0.89× at sf0.1 and 0.84× at sf1 (plans/r13/ab/) —
        // duplicate subtrees overlap on idle capacity, the seam
        // serializes. Left unseamed per the measured A/B.
        val fam = Tables.orders(s, d)
          .join(Tables.customer(s, d),
                col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
                col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(count(lit(1)).as("n"),
               sum((col("o_orderstatus") === "F").cast("long")).as("k"))
        val tot = fam.agg(sum(col("n")).as("tn"), sum(col("k")).as("tk"))
        val p0 = col("tk").cast("double") / col("tn")
        val z = (col("k").cast("double") / col("n") - p0) /
          sqrt(p0 * (lit(1.0) - p0) / col("n"))
        val scored = fam.crossJoin(broadcast(tot))
          .withColumn("z4", r4(z))
          .withColumn("p6",
            round(erfc(abs(z) * lit(0.7071067811865476)) * lit(1000000L),
                  0).cast("long"))
        val wRank = Window.orderBy(col("p6"), col("nation"))
        val ranked = scored
          .withColumn("rnk", row_number().over(wRank).cast("long"))
        val imax = ranked
          .agg(coalesce(max(when(col("p6") <= col("rnk") * 2000,
                                 col("rnk"))), lit(0L)).as("imax"))
        ranked.crossJoin(broadcast(imax))
          .select(col("nation"), col("n"), col("k"), col("z4"),
                  col("p6"), col("rnk"),
                  (col("rnk") <= col("imax")).cast("long").as("reject"))
          .orderBy(col("rnk"))
      },
      s"""WITH fam AS (
        |  SELECT n.n_name AS nation, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS k
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT SUM(n) AS tn, SUM(k) AS tk FROM fam),
        |scored AS (
        |  SELECT nation, n, k,
        |    round((CAST(k AS DOUBLE) / n - CAST(tk AS DOUBLE) / tn)
        |      / sqrt((CAST(tk AS DOUBLE) / tn)
        |             * (1.0 - CAST(tk AS DOUBLE) / tn) / n), 4) + 0
        |      AS z4,
        |    CAST(round(${erfcSql(
               "abs((CAST(k AS DOUBLE) / n - CAST(tk AS DOUBLE) / tn)" +
               " / sqrt((CAST(tk AS DOUBLE) / tn)" +
               " * (1.0 - CAST(tk AS DOUBLE) / tn) / n))" +
               " * 0.7071067811865476")} * 1000000, 0) AS BIGINT) AS p6
        |  FROM fam, tot),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY p6, nation) AS rnk
        |  FROM scored),
        |im AS (
        |  SELECT COALESCE(MAX(CASE WHEN p6 <= rnk * 2000
        |                      THEN rnk END), 0) AS imax
        |  FROM ranked)
        |SELECT nation, n, k, z4, p6, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(CASE WHEN rnk <= imax THEN 1 ELSE 0 END AS BIGINT)
        |    AS reject
        |FROM ranked, im ORDER BY rnk""".stripMargin),

    Q(
      // Granger-style lag test on the daily series: does yesterday's
      // ORDER COUNT explain today's revenue beyond yesterday's revenue
      // alone? (the "does X lead Y?" primitive behind every metric-
      // causality dashboard). Corpus → day domain in one hash-agg;
      // lag alignment is an equi-join on dday−1 (day-domain rows
      // only); ALL seven second-moment sums are exact DECIMAL(38,0)
      // integers, and the n-scaled centered moments M_ab = n·S_ab −
      // S_a·S_b stay exact — cents-squared sums pass int64 before
      // sf0.1, so the widening is what keeps 100× honest. The OLS
      // algebra (restricted y~y₋₁ vs unrestricted y~y₋₁+x₋₁, F on
      // 1 and n−3 df) runs on those exact integers cast to double in
      // identical formula shapes.
      "q_ts_granger",
      (s, d) => {
        val daily = Frames.orderDayCents(s, d)
          .groupBy(col("dday"))
          .agg(count(lit(1)).as("x"), sum(col("vc")).as("y"))
        val lagd = daily.select(col("dday").as("dl"),
                                col("x").as("xl"), col("y").as("yl"))
        val m = daily.join(lagd, col("dday") === col("dl") + 1)
          .agg(count(lit(1)).as("n"),
               sum(col("y").cast(D38)).as("sy"),
               sum(col("yl").cast(D38)).as("syl"),
               sum(col("xl").cast(D38)).as("sxl"),
               sum((col("y").cast(D38) * col("y")).cast(D38)).as("syy"),
               sum((col("yl").cast(D38) * col("yl")).cast(D38))
                 .as("sylyl"),
               sum((col("xl").cast(D38) * col("xl")).cast(D38))
                 .as("sxlxl"),
               sum((col("y").cast(D38) * col("yl")).cast(D38))
                 .as("syyl"),
               sum((col("y").cast(D38) * col("xl")).cast(D38))
                 .as("syxl"),
               sum((col("yl").cast(D38) * col("xl")).cast(D38))
                 .as("sylxl"))
        def cm(sab: Column, sa: Column, sb: Column): Column =
          ((col("n") * sab).cast(D38) - (sa * sb).cast(D38))
            .cast("double")
        m.select(col("n"),
                 cm(col("syy"), col("sy"), col("sy")).as("myy"),
                 cm(col("sylyl"), col("syl"), col("syl")).as("mylyl"),
                 cm(col("sxlxl"), col("sxl"), col("sxl")).as("mxlxl"),
                 cm(col("syyl"), col("sy"), col("syl")).as("myyl"),
                 cm(col("syxl"), col("sy"), col("sxl")).as("myxl"),
                 cm(col("sylxl"), col("syl"), col("sxl")).as("mylxl"))
          .select(col("n"),
                  (col("myy") - col("myyl") * col("myyl") / col("mylyl"))
                    .as("rr"),
                  (col("myy") -
                   ((col("myyl") * col("mxlxl") -
                     col("myxl") * col("mylxl")) * col("myyl") +
                    (col("myxl") * col("mylyl") -
                     col("myyl") * col("mylxl")) * col("myxl")) /
                   (col("mylyl") * col("mxlxl") -
                    col("mylxl") * col("mylxl"))).as("ru"))
          .select(col("n").as("n_days"),
                  r4((col("rr") - col("ru")) * (col("n") - 3) /
                     col("ru")).as("f4"),
                  r4(lit(1.0) - col("ru") / col("rr")).as("partial_r2_4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS dday,
        |    COUNT(*) AS x,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS y
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(a.y AS HUGEINT)) AS sy,
        |    SUM(CAST(b.y AS HUGEINT)) AS syl,
        |    SUM(CAST(b.x AS HUGEINT)) AS sxl,
        |    SUM(CAST(a.y AS HUGEINT) * a.y) AS syy,
        |    SUM(CAST(b.y AS HUGEINT) * b.y) AS sylyl,
        |    SUM(CAST(b.x AS HUGEINT) * b.x) AS sxlxl,
        |    SUM(CAST(a.y AS HUGEINT) * b.y) AS syyl,
        |    SUM(CAST(a.y AS HUGEINT) * b.x) AS syxl,
        |    SUM(CAST(b.y AS HUGEINT) * b.x) AS sylxl
        |  FROM daily a JOIN daily b ON a.dday = b.dday + 1),
        |cm AS (
        |  SELECT n,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS myy,
        |    CAST(n * sylyl - syl * syl AS DOUBLE) AS mylyl,
        |    CAST(n * sxlxl - sxl * sxl AS DOUBLE) AS mxlxl,
        |    CAST(n * syyl - sy * syl AS DOUBLE) AS myyl,
        |    CAST(n * syxl - sy * sxl AS DOUBLE) AS myxl,
        |    CAST(n * sylxl - syl * sxl AS DOUBLE) AS mylxl
        |  FROM m),
        |rs AS (
        |  SELECT n,
        |    (myy - myyl * myyl / mylyl) AS rr,
        |    (myy -
        |     ((myyl * mxlxl - myxl * mylxl) * myyl +
        |      (myxl * mylyl - myyl * mylxl) * myxl) /
        |     (mylyl * mxlxl - mylxl * mylxl)) AS ru
        |  FROM cm)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  round((rr - ru) * (n - 3) / ru, 4) + 0 AS f4,
        |  round(1.0 - ru / rr, 4) + 0 AS partial_r2_4
        |FROM rs""".stripMargin),

    Q(
      // Ljung–Box portmanteau test at lags 1..5 on the daily revenue
      // series — "is there ANY autocorrelation structure left?" (the
      // residual-whiteness gate behind every forecasting model).
      // Corpus → day domain in one hash-agg; the five lag alignments
      // ride ONE equi-join (day × exploded lag literal against the
      // lagged day domain); every autocovariance is assembled from
      // exact DECIMAL(38,0) sums via the n²-scaled identity
      // A_k = n²·Σy·y₋ₖ − n·S·(P+L) + m·S², B = n·(n·Syy − S²), so
      // ρ_k = A_k/B divides exact integers; each Q term
      // ρ²/(n−k) quantizes to an exact 1e-12 long BEFORE the 5-term
      // sum (no float summation order), and Q = n(n+2)·Σ is the one
      // final double.
      "q_ts_ljung_box",
      (s, d) => {
        val daily = Frames.orderDayCents(s, d)
          .groupBy(col("dday")).agg(sum(col("vc")).as("y"))
        val tot = daily.agg(count(lit(1)).as("n"),
                            sum(col("y").cast(D38)).as("sv"),
                            sum((col("y").cast(D38) * col("y"))
                                  .cast(D38)).as("svv"))
        val lagd = daily.select(col("dday").as("dl"), col("y").as("yl"))
        val perK = daily
          .select(col("dday"), col("y"),
                  explode(typedLit((1L to 5L).toSeq)).as("k"))
          .join(lagd, col("dday") === col("dl") + col("k"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("m"),
               sum((col("y").cast(D38) * col("yl")).cast(D38)).as("spy"),
               sum(col("y").cast(D38)).as("p"),
               sum(col("yl").cast(D38)).as("l"))
        val rho = perK.crossJoin(broadcast(tot))
          .withColumn("a",
            ((col("n").cast(D38) * col("n") * col("spy")).cast(D38) -
             (col("n").cast(D38) * col("sv") * (col("p") + col("l")))
               .cast(D38) +
             (col("m").cast(D38) * col("sv") * col("sv")).cast(D38))
              .cast(D38))
          .withColumn("b",
            (col("n").cast(D38) *
             ((col("n").cast(D38) * col("svv")).cast(D38) -
              (col("sv") * col("sv")).cast(D38))).cast(D38))
          .withColumn("rho", col("a").cast("double") /
                             col("b").cast("double"))
          .withColumn("t12",
            round(col("rho") * col("rho") /
                  (col("n") - col("k")).cast("double") *
                  lit(1000000000000L), 0).cast("long"))
        rho.groupBy(col("n"))
          .agg(max(when(col("k") === 1, r4(col("rho")))).as("rho1_4"),
               max(when(col("k") === 2, r4(col("rho")))).as("rho2_4"),
               max(when(col("k") === 3, r4(col("rho")))).as("rho3_4"),
               max(when(col("k") === 4, r4(col("rho")))).as("rho4_4"),
               max(when(col("k") === 5, r4(col("rho")))).as("rho5_4"),
               sum(col("t12")).as("t12s"))
          .select(col("n").as("n_days"), col("rho1_4"), col("rho2_4"),
                  col("rho3_4"), col("rho4_4"), col("rho5_4"),
                  r4(col("n").cast("double") * (col("n") + 2) *
                     (col("t12s").cast("double") / 1e12)).as("q5_4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS dday,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS y
        |  FROM orders GROUP BY 1),
        |tot AS (
        |  SELECT COUNT(*) AS n, SUM(CAST(y AS HUGEINT)) AS sv,
        |    SUM(CAST(y AS HUGEINT) * y) AS svv
        |  FROM daily),
        |ks(k) AS (VALUES (1), (2), (3), (4), (5)),
        |perk AS (
        |  SELECT ks.k, COUNT(*) AS m,
        |    SUM(CAST(a.y AS HUGEINT) * b.y) AS spy,
        |    SUM(CAST(a.y AS HUGEINT)) AS p,
        |    SUM(CAST(b.y AS HUGEINT)) AS l
        |  FROM ks, daily a, daily b WHERE a.dday = b.dday + ks.k
        |  GROUP BY ks.k),
        |rho AS (
        |  SELECT k, n,
        |    CAST(CAST(n AS HUGEINT) * n * spy
        |         - CAST(n AS HUGEINT) * sv * (p + l)
        |         + CAST(m AS HUGEINT) * sv * sv AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT)
        |           * (CAST(n AS HUGEINT) * svv - sv * sv) AS DOUBLE)
        |      AS rho
        |  FROM perk, tot)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  MAX(CASE WHEN k = 1 THEN round(rho, 4) + 0 END) AS rho1_4,
        |  MAX(CASE WHEN k = 2 THEN round(rho, 4) + 0 END) AS rho2_4,
        |  MAX(CASE WHEN k = 3 THEN round(rho, 4) + 0 END) AS rho3_4,
        |  MAX(CASE WHEN k = 4 THEN round(rho, 4) + 0 END) AS rho4_4,
        |  MAX(CASE WHEN k = 5 THEN round(rho, 4) + 0 END) AS rho5_4,
        |  round(CAST(n AS DOUBLE) * (n + 2)
        |        * (CAST(SUM(CAST(round(rho * rho / (n - k)
        |                 * 1000000000000, 0) AS BIGINT)) AS DOUBLE)
        |           / 1e12), 4) + 0 AS q5_4
        |FROM rho GROUP BY n""".stripMargin),

    Q(
      // Cochran–Armitage trend test: does the finished-order RATE move
      // monotonically across the ORDERED priority tiers 1..5? (The
      // proportions sibling of Page's L — the test behind "does the
      // defect rate rise with severity bucket".) Corpus → five (n, k)
      // cells in one hash-agg; the z-statistic's numerator
      // A = N·Σwk − K·Σwn and variance core
      // B = K(N−K)·(N·Σnw² − (Σnw)²) are exact DECIMAL(38,0) (B
      // passes int64 at ~10⁶ rows — the widening is load-bearing);
      // z = A·√N/√B is the one double, identical shape both engines.
      "q_stats_cochran_armitage",
      (s, d) => {
        val cell = Tables.orders(s, d)
          .groupBy(substring(col("o_orderpriority"), 1, 1).cast("long")
                     .as("w"))
          .agg(count(lit(1)).as("n"),
               sum((col("o_orderstatus") === "F").cast("long")).as("k"))
        val m = cell.agg(
          sum(col("n")).as("nn"), sum(col("k")).as("kk"),
          sum(col("w") * col("k")).as("swk"),
          sum(col("w") * col("n")).as("swn"),
          sum((col("w") * col("w") * col("n")).cast(D38)).as("swwn"))
        m.select(col("nn").cast("long").as("n_orders"),
                 col("kk").cast("long").as("n_f"),
                 ((col("nn").cast(D38) * col("swk")).cast(D38) -
                  (col("kk").cast(D38) * col("swn")).cast(D38))
                   .cast(D38).as("a"),
                 ((col("kk").cast(D38) * (col("nn") - col("kk")))
                    .cast(D38) *
                  ((col("nn").cast(D38) * col("swwn")).cast(D38) -
                   (col("swn").cast(D38) * col("swn")).cast(D38))
                    .cast(D38)).cast(D38).as("b"))
          .select(col("n_orders"), col("n_f"),
                  r4(col("a").cast("double") *
                     sqrt(col("n_orders").cast("double")) /
                     sqrt(col("b").cast("double"))).as("z4"))
      },
      """WITH cell AS (
        |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS k
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT SUM(n) AS nn, SUM(k) AS kk,
        |    SUM(w * k) AS swk, SUM(w * n) AS swn,
        |    SUM(CAST(w AS HUGEINT) * w * n) AS swwn
        |  FROM cell),
        |ab AS (
        |  SELECT CAST(nn AS BIGINT) AS n_orders,
        |    CAST(kk AS BIGINT) AS n_f,
        |    CAST(nn AS HUGEINT) * swk - CAST(kk AS HUGEINT) * swn AS a,
        |    (CAST(kk AS HUGEINT) * (nn - kk))
        |      * (CAST(nn AS HUGEINT) * swwn
        |         - CAST(swn AS HUGEINT) * swn) AS b
        |  FROM m)
        |SELECT n_orders, n_f,
        |  round(CAST(a AS DOUBLE) * sqrt(CAST(n_orders AS DOUBLE))
        |        / sqrt(CAST(b AS DOUBLE)), 4) + 0 AS z4
        |FROM ab""".stripMargin),

    Q(
      // Seasonal Mann–Kendall on daily revenue: the MK trend test run
      // WITHIN each calendar month-of-year (season) and combined —
      // the standard way to ask "is revenue trending?" without the
      // annual cycle masquerading as trend. Same exact-integer
      // machinery as q_stats_mann_kendall (sign pairs, tie-corrected
      // var×18, ±1 continuity correction), but pairs only form within
      // a season: the pair grid is Σ_m n_m² ≈ n²/12 — still a
      // calendar constant. S and var18 sum across seasons as exact
      // longs.
      "q_stats_seasonal_mk",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .select(epochDay("o_orderdate").as("x"),
                  month(col("o_orderdate").cast("timestamp")).as("m"),
                  cents("o_totalprice").as("vc"))
          .groupBy(col("x"), col("m")).agg(sum(col("vc")).as("y"))
        val a = daily.select(col("m").as("ma"), col("x").as("xi"),
                             col("y").as("yi"))
        val b = daily.select(col("m").as("mb"), col("x").as("xj"),
                             col("y").as("yj"))
        val sStat = a.join(b, col("ma") === col("mb") &&
                              col("xj") > col("xi"))
          .agg(Frames.kendallS.as("s_stat"))
        val perSeason = daily.groupBy(col("m"), col("y"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("m"))
          .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
                 .as("tt"),
               sum(col("t")).as("nm"))
          .agg(sum(col("nm") * (col("nm") - 1) * (col("nm") * 2 + 5) -
                   col("tt")).as("var18"),
               sum(col("nm")).as("n_days"),
               count(lit(1)).as("n_seasons"))
        sStat.crossJoin(broadcast(perSeason))
          .select(col("n_days"), col("n_seasons"), col("s_stat"),
                  col("var18"),
                  Frames.kendallZ4.as("z4"))
      },
      """WITH daily AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS x,
        |    month(o_orderdate) AS m,
        |    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT)) AS y
        |  FROM orders GROUP BY 1, 2),
        |s AS (
        |  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
        |                       WHEN b.y < a.y THEN -1
        |                       ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.m = b.m AND b.x > a.x),
        |pert AS (
        |  SELECT m, COUNT(*) AS t FROM daily GROUP BY m, y),
        |per AS (
        |  SELECT m, SUM(t * (t - 1) * (t * 2 + 5)) AS tt,
        |    SUM(t) AS nm
        |  FROM pert GROUP BY m),
        |v AS (
        |  SELECT CAST(SUM(nm * (nm - 1) * (nm * 2 + 5) - tt) AS BIGINT)
        |    AS var18,
        |    CAST(SUM(nm) AS BIGINT) AS n_days,
        |    COUNT(*) AS n_seasons
        |  FROM per)
        |SELECT n_days, n_seasons, s_stat, var18,
        |  round(CASE WHEN s_stat > 0 THEN
        |          CAST(s_stat - 1 AS DOUBLE)
        |            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |        WHEN s_stat < 0 THEN
        |          CAST(s_stat + 1 AS DOUBLE)
        |            / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |        ELSE 0.0 END, 4) + 0 AS z4
        |FROM s CROSS JOIN v""".stripMargin),

    Q(
      // Hill tail-index estimator over the per-user activity
      // distribution — "how heavy is the power-law tail?" (the number
      // that says whether a handful of users dominate the event
      // volume; α ≤ 2 means infinite variance, plan for skew).
      // Corpus → per-user counts in one hash-agg; the estimator uses
      // only the top k+1 = 101 order statistics (orderBy+LIMIT — a
      // bounded TopK, never a global sort of all users);
      // α = k / Σ ln(x_i/x_{k+1}) with each ln-term quantized to an
      // exact 1e-9 long before the 100-term sum, so no float
      // summation order exists and the two engines agree to the last
      // bit before the final division.
      "q_events_hill_tail",
      (s, d) => {
        val act = Tables.events(s, d)
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        val top = act.orderBy(col("c").desc, col("user_id")).limit(101)
        val wR = Window.orderBy(col("c").desc, col("user_id"))
        val ranked = top
          .withColumn("rn", row_number().over(wR).cast("long"))
        // adaptive k: fewer than 102 users (tiny fixtures) shrinks the
        // estimator to k = n−1 instead of emitting a degenerate row
        val xmin = ranked
          .agg(max(struct(col("rn"), col("c").as("cc"))).as("b"))
          .select(col("b.rn").as("mxrn"), col("b.cc").as("x_kp1"))
        ranked.crossJoin(broadcast(xmin)).filter(col("rn") < col("mxrn"))
          .agg(sum(round((log(col("c").cast("double")) -
                          log(col("x_kp1").cast("double"))) *
                         lit(1000000000L), 0).cast("long")).as("s9"),
               max(col("x_kp1")).as("x_kp1_out"),
               count(lit(1)).as("k"))
          .select(col("k"), col("x_kp1_out").as("x_kp1"),
                  col("s9").as("sum_ln9"),
                  r4(col("k").cast("double") /
                     (col("s9").cast("double") / 1e9)).as("alpha4"))
      },
      """WITH act AS (
        |  SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
        |top AS (
        |  SELECT c, user_id FROM act
        |  ORDER BY c DESC, user_id LIMIT 101),
        |ranked AS (
        |  SELECT c,
        |    ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rn
        |  FROM top),
        |xmin AS (
        |  SELECT rn AS mxrn, c AS x_kp1 FROM ranked
        |  ORDER BY rn DESC LIMIT 1)
        |SELECT COUNT(*) AS k,
        |  CAST(MAX(x_kp1) AS BIGINT) AS x_kp1,
        |  CAST(SUM(CAST(round((ln(CAST(c AS DOUBLE))
        |        - ln(CAST(x_kp1 AS DOUBLE))) * 1000000000, 0)
        |        AS BIGINT)) AS BIGINT) AS sum_ln9,
        |  round(CAST(COUNT(*) AS DOUBLE)
        |        / (CAST(SUM(CAST(round((ln(CAST(c AS DOUBLE))
        |             - ln(CAST(x_kp1 AS DOUBLE))) * 1000000000, 0)
        |             AS BIGINT)) AS DOUBLE) / 1e9), 4) + 0 AS alpha4
        |FROM ranked, xmin WHERE rn < mxrn""".stripMargin)
  )
}
