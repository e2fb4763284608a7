package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.6 extension (round 6, second half) — signal-analysis
  * statistics over the order/event time series: rank correlation
  * between two DERIVED series (Kendall τ-b), robust location-shift
  * estimation (Hodges–Lehmann), offline change-point detection,
  * Friedman's blocked rank test, a bounded-kernel MACD, and a
  * distribution-free median confidence interval.
  *
  * Scale doctrine shared by the family: the corpus ALWAYS collapses to
  * a bounded domain first (calendar days ≤ ~2.4k, weeks ≤ ~350,
  * months ≤ 80, distinct price cents — boundedDomain-guarded) in ONE
  * map-side-combinable hash-agg; every pairwise/window stage after
  * that runs on the domain, whose size is a CONSTANT of the schema,
  * not a function of the data volume. All decisions (ranks, medians,
  * argmaxes, thresholds) are taken in exact integer/DECIMAL(38,0)
  * arithmetic; a double appears only as each query's final output op,
  * identical on both engines.
  */
object SignalOps extends OpGroup {

  private val oDaySql = "epoch_us(o_orderdate) // 86400000000"
  private val oCentsSql =
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Truncated-EMA kernel: w_j = round((1-α)^j · 1e9), α = 2/(span+1).
    * The SAME Seq renders the Spark literal array and the oracle
    * VALUES list, so both engines see identical integer weights. */
  private def kernel(span: Int, taps: Int): Seq[Long] = {
    val keep = 1.0 - 2.0 / (span + 1)
    (0 until taps).map(j => math.round(math.pow(keep, j) * 1e9))
  }

  def qs: Seq[Q] = Seq(

    Q(
      // Kendall τ-b rank correlation between the daily order COUNT and
      // the daily revenue series — "do busier days make more money, is
      // the association monotone?" — the tie-corrected companion to
      // q_stats_spearman (Spearman: ranks of ONE series vs another's;
      // Kendall: pairwise concordance, robust to any monotone
      // transform). The corpus collapses to the ≤2.4k-day domain
      // first; the O(day²) concordance join (~2.9M pairs) is a
      // CONSTANT of the calendar, not the data volume, and both sides
      // are aggregates so the nested-loop side broadcasts. C, D and
      // the tie counts are exact integers; τ_b's one double is the
      // final sqrt division.
      "q_ts_kendall",
      (s, d) => {
        val daily = Frames.orderDayCents(s, d)
          .groupBy(col("dday"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("sc"))
        val a = daily.select(col("dday").as("da"), col("n").as("na"),
                             col("sc").as("sa"))
        val b = daily.select(col("dday").as("db"), col("n").as("nb"),
                             col("sc").as("sb"))
        val m = a.join(b, col("db") > col("da"))
          .agg(count(lit(1)).as("n_pairs"),
               sum(when((col("na") < col("nb") && col("sa") < col("sb"))
                     || (col("na") > col("nb") && col("sa") > col("sb")),
                     1L).otherwise(0L)).as("concordant"),
               sum(when((col("na") < col("nb") && col("sa") > col("sb"))
                     || (col("na") > col("nb") && col("sa") < col("sb")),
                     1L).otherwise(0L)).as("discordant"),
               sum(when(col("na") === col("nb"), 1L).otherwise(0L))
                 .as("tx"),
               sum(when(col("sa") === col("sb"), 1L).otherwise(0L))
                 .as("ty"))
        val nd = daily.agg(count(lit(1)).as("n_days"))
        m.crossJoin(broadcast(nd))
          .select(col("n_days"), col("n_pairs"),
                  col("concordant"), col("discordant"),
                  r4((col("concordant") - col("discordant"))
                       .cast("double") /
                     sqrt(((col("n_pairs") - col("tx")).cast(D38) *
                           (col("n_pairs") - col("ty")).cast(D38))
                       .cast("double"))).as("tau4"))
      },
      s"""WITH daily AS (
        |  SELECT $oDaySql AS dday, COUNT(*) AS n, SUM($oCentsSql) AS sc
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    SUM(CASE WHEN (a.n < b.n AND a.sc < b.sc)
        |              OR (a.n > b.n AND a.sc > b.sc)
        |        THEN 1 ELSE 0 END) AS concordant,
        |    SUM(CASE WHEN (a.n < b.n AND a.sc > b.sc)
        |              OR (a.n > b.n AND a.sc < b.sc)
        |        THEN 1 ELSE 0 END) AS discordant,
        |    SUM(CASE WHEN a.n = b.n THEN 1 ELSE 0 END) AS tx,
        |    SUM(CASE WHEN a.sc = b.sc THEN 1 ELSE 0 END) AS ty
        |  FROM daily a JOIN daily b ON b.dday > a.dday),
        |nd AS (SELECT COUNT(*) AS n_days FROM daily)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(concordant AS BIGINT) AS concordant,
        |  CAST(discordant AS BIGINT) AS discordant,
        |  round(CAST(concordant - discordant AS DOUBLE)
        |        / sqrt(CAST(CAST(n_pairs - tx AS HUGEINT)
        |                    * (n_pairs - ty) AS DOUBLE)), 4) + 0 AS tau4
        |FROM m, nd""".stripMargin),

    Q(
      // Hodges–Lehmann estimator of the location shift between two
      // series — the median of ALL pairwise differences of weekly mean
      // order value, '1-URGENT' vs '5-LOW' (the robust answer to "how
      // much more do urgent orders cost?", 29% breakdown vs the
      // mean-difference's 0%). Corpus → ≤350-week domain per arm
      // first; the pair grid (~120k) is calendar-constant. Each
      // pairwise difference of two rational means (sa/na − sb/nb) is
      // computed as ONE exact half-up integer in micents —
      // (sa·nb − sb·na)·10⁴ / (na·nb) in DECIMAL(38,0) — so the
      // median is a DISCRETE pick under a total order, never an
      // interpolation of floats.
      "q_ts_hodges_lehmann",
      (s, d) => {
        def arm(pri: String, p: String) = Tables.orders(s, d)
          .filter(col("o_orderpriority") === pri)
          .select(ldiv(unix_micros(col("o_orderdate").cast("timestamp")),
                       lit(DayUs * 7)).as(s"wk$p"),
                  cents("o_totalprice").as("vc"))
          .groupBy(col(s"wk$p"))
          .agg(count(lit(1)).as(s"n$p"), sum(col("vc")).as(s"s$p"))
        val pairs = arm("1-URGENT", "a").crossJoin(arm("5-LOW", "b"))
          .withColumn("dmc", sHalfUp(
            (col("sa").cast(D38) * col("nb") -
             col("sb").cast(D38) * col("na")).cast(D38) * 10000,
            (col("na").cast(D38) * col("nb")).cast(D38)))
        val wS = Window.orderBy(col("dmc"), col("wka"), col("wkb"))
        val ranked = pairs
          .withColumn("rn", row_number().over(wS).cast("long"))
        val np = ranked.agg(count(lit(1)).as("np"))
        ranked.crossJoin(broadcast(np))
          .filter(col("rn") === expr("(np + 1) div 2"))
          .select(col("np").as("n_pairs"),
                  (col("dmc").cast("double") / 1000000.0)
                    .as("hl_shift_usd"))
      },
      s"""WITH wa AS (
        |  SELECT epoch_us(o_orderdate) // ${DayUs * 7} AS wka,
        |    COUNT(*) AS na, SUM($oCentsSql) AS sa
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |wb AS (
        |  SELECT epoch_us(o_orderdate) // ${DayUs * 7} AS wkb,
        |    COUNT(*) AS nb, SUM($oCentsSql) AS sb
        |  FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1),
        |pairs AS (
        |  SELECT wka, wkb,
        |    ${sHalfUpSql(
               "(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)" +
                 " * 10000",
               "CAST(na AS HUGEINT) * nb")} AS dmc
        |  FROM wa CROSS JOIN wb),
        |r AS (
        |  SELECT dmc,
        |    ROW_NUMBER() OVER (ORDER BY dmc, wka, wkb) AS rn,
        |    COUNT(*) OVER () AS np
        |  FROM pairs)
        |SELECT CAST(np AS BIGINT) AS n_pairs,
        |  CAST(dmc AS DOUBLE) / 1000000.0 AS hl_shift_usd
        |FROM r WHERE rn = (np + 1) // 2""".stripMargin),

    Q(
      // Offline change-point detection on the daily revenue series —
      // the single split maximizing the between-segment sum of squares
      // (binary segmentation's first step / CUSUM's offline twin; the
      // "when did the regime change?" primitive behind drift alarms).
      // Corpus → day domain in one agg carrying (n, Σcents, Σcents²);
      // prefix sums ride ONE day-domain cumulative window; each
      // split's gain S_l²/n_l + S_r²/n_r − S²/N is exact
      // DECIMAL(38,0) via half-up integer division (cents² leaves
      // int64 almost immediately — Σvc² is ~10²⁰ already at sf0.1),
      // so the argmax is decided on exact integers with a
      // smallest-day tiebreak, and the one double is the final
      // variance-share ratio.
      "q_ts_changepoint",
      (s, d) => {
        val daily = Frames.orderDayCents(s, d)
          .groupBy(col("dday"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("sc"),
               sum((col("vc").cast(D38) * col("vc")).cast(D38))
                 .as("ssq"))
        val tot = daily.agg(sum(col("n")).as("tn"),
                            sum(col("sc")).as("ts"),
                            sum(col("ssq")).as("tssq"))
        val wC = Window.orderBy(col("dday"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val scored = daily
          .withColumn("cn", sum(col("n")).over(wC))
          .withColumn("cs", sum(col("sc")).over(wC))
          .crossJoin(broadcast(tot))
          .filter(col("cn") < col("tn"))
          .withColumn("gain",
            halfUpDivWideDec((col("cs").cast(D38) * col("cs")).cast(D38),
                             col("cn")) +
            halfUpDivWideDec(
              ((col("ts") - col("cs")).cast(D38) *
               (col("ts") - col("cs")).cast(D38)).cast(D38),
              col("tn") - col("cn")) -
            halfUpDivWideDec((col("ts").cast(D38) * col("ts")).cast(D38),
                             col("tn")))
        val best = scored
          .agg(max(struct(col("gain"), (-col("dday")).as("_nd"))).as("b"))
          .select(col("b.gain").as("bgain"),
                  (-col("b._nd")).as("split_day"))
        scored.join(broadcast(best),
                    col("dday") === col("split_day"))
          .select(col("tn").as("n_orders"), col("split_day"),
                  col("cn").as("n_left"),
                  (col("tn") - col("cn")).as("n_right"),
                  intRatio4Wide(col("cs").cast(D38) * 100, col("cn"))
                    .as("mean_left_usd4"),
                  intRatio4Wide((col("ts") - col("cs")).cast(D38) * 100,
                                col("tn") - col("cn"))
                    .as("mean_right_usd4"),
                  intRatio4Wide(
                    col("bgain") * 10000,
                    col("tssq") - halfUpDivWideDec(
                      (col("ts").cast(D38) * col("ts")).cast(D38),
                      col("tn"))).as("gain_share4"))
      },
      s"""WITH daily AS (
        |  SELECT $oDaySql AS dday, COUNT(*) AS n,
        |    SUM($oCentsSql) AS sc,
        |    SUM(CAST($oCentsSql AS HUGEINT) * $oCentsSql) AS ssq
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT SUM(n) AS tn, SUM(sc) AS ts, SUM(ssq) AS tssq
        |        FROM daily),
        |cum AS (
        |  SELECT dday,
        |    SUM(n) OVER (ORDER BY dday) AS cn,
        |    SUM(sc) OVER (ORDER BY dday) AS cs
        |  FROM daily),
        |scored AS (
        |  SELECT dday, cn, cs, tn, ts, tssq,
        |    ((2*(CAST(cs AS HUGEINT)*cs) + cn) // (2*cn))
        |    + ((2*(CAST(ts - cs AS HUGEINT)*(ts - cs)) + (tn - cn))
        |       // (2*(tn - cn)))
        |    - ((2*(CAST(ts AS HUGEINT)*ts) + tn) // (2*tn)) AS gain
        |  FROM cum, tot WHERE cn < tn),
        |best AS (
        |  SELECT * FROM scored ORDER BY gain DESC, dday LIMIT 1)
        |SELECT CAST(tn AS BIGINT) AS n_orders,
        |  CAST(dday AS BIGINT) AS split_day,
        |  CAST(cn AS BIGINT) AS n_left,
        |  CAST(tn - cn AS BIGINT) AS n_right,
        |  CAST((2*(CAST(cs AS HUGEINT)*100) + cn) // (2*cn) AS DOUBLE)
        |    / 10000.0 AS mean_left_usd4,
        |  CAST((2*(CAST(ts - cs AS HUGEINT)*100) + (tn - cn))
        |       // (2*(tn - cn)) AS DOUBLE) / 10000.0 AS mean_right_usd4,
        |  ${sHalfUpSql(
             "gain * 10000",
             "tssq - ((2*(CAST(ts AS HUGEINT)*ts) + tn) // (2*tn))")}
        |    / 10000.0 AS gain_share4
        |FROM best""".stripMargin),

    Q(
      // Friedman's rank test: do the five order priorities keep the
      // SAME revenue ordering month after month, or does some priority
      // systematically out-earn? Blocks = the ~80 calendar months,
      // treatments = the 5 priorities, measure = monthly revenue
      // cents. Within-block ranks use the AVERAGE-rank convention kept
      // integer by doubling (r2 = 2·rank + ties − 1 — the rank2Map
      // device), so Σ R_j² and the χ² statistic are exact integers
      // until the one scale-4 division. The within-month window ranks
      // a 5-row partition of an aggregate — bounded by the treatment
      // count, nothing corpus-sized is ever sorted.
      "q_stats_friedman",
      (s, d) => {
        val Frames.MonthBlocks(full, ranked) = Frames.monthBlocks(s, d,
          col("o_orderpriority").as("pri"), "pri")
        val rj = ranked.groupBy(col("pri"))
          .agg(sum(col("r2")).as("R2"))
        val nb = full.agg(count(lit(1)).as("n"))
        val s2 = rj.agg(sum((col("R2").cast(D38) * col("R2")).cast(D38))
                          .as("s2"))
        s2.crossJoin(broadcast(nb))
          .select(col("n").as("n_blocks"), lit(5L).as("k"),
                  col("s2").cast("long").as("sum_r2sq"),
                  intRatio4Wide(
                    (col("s2") * 3 * 10000 -
                     (col("n").cast(D38) * col("n") * 540).cast(D38)
                       * 10000).cast(D38),
                    (col("n").cast(D38) * 30).cast(D38))
                    .as("chi2_4"))
      },
      s"""WITH cell AS (
        |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        |    o_orderpriority AS pri, SUM($oCentsSql) AS v
        |  FROM orders GROUP BY 1, 2),
        |full_m AS (
        |  SELECT ym FROM cell GROUP BY ym HAVING COUNT(*) = 5),
        |ranked AS (
        |  SELECT c.pri,
        |    2 * RANK() OVER (PARTITION BY c.ym ORDER BY c.v)
        |      + COUNT(*) OVER (PARTITION BY c.ym, c.v) - 1 AS r2
        |  FROM cell c JOIN full_m f ON c.ym = f.ym),
        |rj AS (SELECT pri, SUM(r2) AS R2 FROM ranked GROUP BY pri),
        |nb AS (SELECT COUNT(*) AS n FROM full_m),
        |s2 AS (SELECT SUM(CAST(R2 AS HUGEINT) * R2) AS s2 FROM rj)
        |SELECT CAST(n AS BIGINT) AS n_blocks, CAST(5 AS BIGINT) AS k,
        |  CAST(s2 AS BIGINT) AS sum_r2sq,
        |  CAST((2*(s2 * 3 * 10000
        |           - CAST(n AS HUGEINT) * n * 540 * 10000)
        |        + (CAST(n AS HUGEINT) * 30))
        |       // (2*(CAST(n AS HUGEINT) * 30)) AS DOUBLE)
        |    / 10000.0 AS chi2_4
        |FROM s2, nb""".stripMargin),

    Q(
      // MACD(12, 26, 9) of the daily revenue series with truncated-EMA
      // kernels — the momentum/crossover indicator as a DECLARATIVE
      // join instead of a sequential recursion (which no engine
      // parallelizes): integer kernel weights round((1-α)^j·1e9)
      // (generated ONCE in Scala; the oracle's VALUES list renders the
      // same longs) explode per day, equi-join back onto the day
      // domain at lag j, and each EMA is one exact half-up micents
      // division of DECIMAL(38,0) sums. Early days renormalize over
      // the PRESENT taps (the q_ts_ewma convention). The signal line
      // reruns the same kernel over the derived MACD series; all three
      // outputs stay exact integer micents. Work is |days|·taps ≈
      // 2.4k·64 rows at ANY data volume.
      "q_ts_macd",
      (s, d) => {
        // r13 (guide §1.1, TRIED AND REVERTED): daily is re-planned
        // into 12 orders scans (plans/r13/..._before.txt), so it got
        // the §3.3 seam — which measured 0.74× at sf0.1 AND 0.60× at
        // sf1 (plans/r13/ab/b3_*/b4_*): the duplicate day-domain
        // subtrees run concurrently on idle cores while the seam
        // serializes a blocking materialization per invocation. Same
        // verdict as r12's lm_gate/collocations sites.
        val daily = Frames.orderDayCents(s, d)
          .groupBy(col("dday")).agg(sum(col("vc")).as("sc"))
        // scale converts the input unit to micents: 10000 for the
        // cents-input price passes, 1 for the signal pass whose input
        // (the derived MACD series) is ALREADY micents — without it the
        // signal line comes out 10^4 too large and hist = macd - sig is
        // dominated by -sig.
        def ema(src: org.apache.spark.sql.DataFrame, vCol: String,
                idCol: String, taps: Seq[Long], out: String,
                scale: Long) = {
          val vals = src.select(col(idCol).as("_sd"), col(vCol).as("_sv"))
          src.select(col(idCol),
                     posexplode(typedLit(taps)).as(Seq("j", "w")))
            .withColumn("_src", col(idCol) - col("j"))
            .join(vals, col("_src") === col("_sd"))
            .groupBy(col(idCol))
            .agg(sum((col("_sv").cast(D38) * col("w")).cast(D38))
                   .as("_num"),
                 sum(col("w")).as("_den"))
            .withColumn(out, sHalfUp(col("_num") * scale, col("_den")))
            .drop("_num", "_den")
        }
        val e12 = ema(daily, "sc", "dday", kernel(12, 48), "ema12", 10000L)
        val e26 = ema(daily, "sc", "dday", kernel(26, 64), "ema26", 10000L)
          .withColumnRenamed("dday", "dday26")
        val macd = e12.join(e26, col("dday") === col("dday26"))
          .select(col("dday"), col("ema12"), col("ema26"),
                  (col("ema12") - col("ema26")).as("macd"))
        val sig = ema(macd.select(col("dday"), col("macd")),
                      "macd", "dday", kernel(9, 32), "sig", 1L)
          .withColumnRenamed("dday", "ddays")
        macd.join(sig, col("dday") === col("ddays"))
          .select(col("dday"),
                  col("ema12").cast("long").as("ema12_mc"),
                  col("ema26").cast("long").as("ema26_mc"),
                  col("macd").cast("long").as("macd_mc"),
                  (col("macd") - col("sig")).cast("long").as("hist_mc"),
                  col("sig").cast("long").as("signal_mc"))
          .orderBy(col("dday"))
      },
      {
        def valuesList(taps: Seq[Long]): String =
          taps.zipWithIndex
            .map { case (w, j) => s"($j, $w)" }.mkString(", ")
        def emaSql(src: String, vCol: String, w: String, out: String) =
          s"""$out AS (
             |  SELECT d.dday,
             |    ${sHalfUpSql(
                    s"SUM(CAST(v.$vCol AS HUGEINT) * w.w) * 10000",
                    "SUM(CAST(w.w AS HUGEINT))")} AS $out
             |  FROM $src d, $w w, $src v
             |  WHERE v.dday = d.dday - w.j
             |  GROUP BY d.dday)"""
        s"""WITH daily AS (
          |  SELECT $oDaySql AS dday, SUM($oCentsSql) AS sc
          |  FROM orders GROUP BY 1),
          |w12(j, w) AS (VALUES ${valuesList(kernel(12, 48))}),
          |w26(j, w) AS (VALUES ${valuesList(kernel(26, 64))}),
          |w9(j, w) AS (VALUES ${valuesList(kernel(9, 32))}),
          |${emaSql("daily", "sc", "w12", "e12").stripMargin},
          |${emaSql("daily", "sc", "w26", "e26").stripMargin},
          |macd AS (
          |  SELECT e12.dday, e12.e12 AS ema12, e26.e26 AS ema26,
          |    e12.e12 - e26.e26 AS macd
          |  FROM e12 JOIN e26 ON e12.dday = e26.dday),
          |sig AS (
          |  SELECT d.dday,
          |    ${sHalfUpSql("SUM(CAST(v.macd AS HUGEINT) * w.w)",
                            "SUM(CAST(w.w AS HUGEINT))")} AS sig
          |  FROM macd d, w9 w, macd v
          |  WHERE v.dday = d.dday - w.j
          |  GROUP BY d.dday)
          |SELECT m.dday, CAST(m.ema12 AS BIGINT) AS ema12_mc,
          |  CAST(m.ema26 AS BIGINT) AS ema26_mc,
          |  CAST(m.macd AS BIGINT) AS macd_mc,
          |  CAST(m.macd - s.sig AS BIGINT) AS hist_mc,
          |  CAST(s.sig AS BIGINT) AS signal_mc
          |FROM macd m JOIN sig s ON m.dday = s.dday
          |ORDER BY m.dday""".stripMargin
      }),

    Q(
      // Distribution-free confidence interval for the median order
      // value — the order-statistic (binomial) interval: ranks
      // (n ± 1.96√n)/2 picked by COUNTING over the distinct-cents
      // domain, so no corpus-sized sort ever happens (the
      // boundedDomain-guarded rank-statistics shape: distinct price
      // cents is a property of the price book, constant under data
      // replication). √n is IEEE-exact and identical cross-engine;
      // every rank and every picked value is an exact integer; the
      // only doubles are the final cents→USD divisions by literal
      // 100.
      "q_stats_median_ci",
      (s, d) => {
        val vals = Tables.orders(s, d)
          .select(cents("o_totalprice").as("vc"))
          .groupBy(col("vc")).agg(count(lit(1)).as("c"))
        // distributed CDF (r8): the distinct-cents frame is NOT
        // constant under diverse data (×9.4 at 10× in the diversity
        // sweep — it would blow any fixed cap at 100×), so the
        // cumulative counts come from the range-partitioned two-pass
        // prefix sum instead of a single-task ordered window
        val cum = distCumSums(vals, "vc", Seq("c"))
          .withColumnRenamed("cum_c", "cum")
        val ranks = vals.agg(sum(col("c")).as("n"))
          .select(col("n"), expr("(n + 1) div 2").as("r_med"),
                  greatest(lit(1L),
                    floor((col("n").cast("double") -
                           lit(1.959964) * sqrt(col("n").cast("double")))
                          / 2).cast("long")).as("r_lo"),
                  least(col("n"),
                    ceil((col("n").cast("double") +
                          lit(1.959964) * sqrt(col("n").cast("double")))
                         / 2).cast("long") + 1).as("r_hi"))
        cum.crossJoin(broadcast(ranks))
          .groupBy(col("n"), col("r_lo"), col("r_med"), col("r_hi"))
          .agg(min(when(col("cum") >= col("r_lo"), col("vc")))
                 .as("_lo"),
               min(when(col("cum") >= col("r_med"), col("vc")))
                 .as("_med"),
               min(when(col("cum") >= col("r_hi"), col("vc")))
                 .as("_hi"))
          .select(col("n").as("n_orders"), col("r_lo"), col("r_med"),
                  col("r_hi"),
                  (col("_lo").cast("double") / 100.0).as("lo_usd"),
                  (col("_med").cast("double") / 100.0).as("median_usd"),
                  (col("_hi").cast("double") / 100.0).as("hi_usd"))
      },
      s"""WITH v AS (
        |  SELECT $oCentsSql AS vc, COUNT(*) AS c FROM orders
        |  GROUP BY 1),
        |cum AS (
        |  SELECT vc, SUM(c) OVER (ORDER BY vc) AS cum FROM v),
        |n AS (SELECT SUM(c) AS n FROM v),
        |r AS (
        |  SELECT n, (n + 1) // 2 AS r_med,
        |    GREATEST(1, CAST(floor((CAST(n AS DOUBLE)
        |      - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT))
        |      AS r_lo,
        |    LEAST(n, CAST(ceil((CAST(n AS DOUBLE)
        |      + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT) + 1)
        |      AS r_hi
        |  FROM n)
        |SELECT CAST(n AS BIGINT) AS n_orders,
        |  CAST(r_lo AS BIGINT) AS r_lo, CAST(r_med AS BIGINT) AS r_med,
        |  CAST(r_hi AS BIGINT) AS r_hi,
        |  CAST(MIN(CASE WHEN cum >= r_lo THEN vc END) AS DOUBLE) / 100.0
        |    AS lo_usd,
        |  CAST(MIN(CASE WHEN cum >= r_med THEN vc END) AS DOUBLE)
        |    / 100.0 AS median_usd,
        |  CAST(MIN(CASE WHEN cum >= r_hi THEN vc END) AS DOUBLE) / 100.0
        |    AS hi_usd
        |FROM cum, r GROUP BY n, r_lo, r_med, r_hi""".stripMargin)
  )
}
