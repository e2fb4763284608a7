package graft.ops

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset,
  SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.Determinism._
import graft.io.Tables

/** Input frames and statistic expressions that several declared queries
  * share. Each builds exactly what its callers used to write out inline,
  * so moving a query onto one changes no plan (`tools/plan_diff.py`
  * checks that). The DuckDB twins keep their own SQL. */
private[ops] object Frames {

  /** Daily order revenue: `day` (epoch day of o_orderdate) and `rev`
    * (the day's exact Σ cents of o_totalprice). */
  def dailyOrderCents(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(expr(
          "unix_micros(cast(o_orderdate as timestamp)) " +
          s"div $DayUs").as("day"),
              cents("o_totalprice").as("vc"))
      .groupBy(col("day")).agg(sum(col("vc")).as("rev"))

  /** Orders as (dday, vc): epoch day of o_orderdate and exact cents of
    * o_totalprice. */
  def orderDayCents(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(epochDay("o_orderdate").as("dday"),
              cents("o_totalprice").as("vc"))

  /** Daily event counts: `x` (epoch day) and `y` (events that day). */
  def dailyEventCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr(s"ts_us div $DayUs").as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("y"))

  /** Events as (event_type, vc): `vc` the value in exact cents; only
    * the named event types when any are given. */
  def eventCents(s: SparkSession, d: String, types: String*): DataFrame = {
    val ev = Tables.events(s, d)
    (if (types.isEmpty) ev else ev.filter(col("event_type").isin(types: _*)))
      .select(col("event_type"), cents("value").as("vc"))
  }

  /** `e` (a `key` column and integer `vc`) joined to `a`, its key
    * group's MIN vc, broadcast (one row per group). Sums of the
    * [[centered]] value then depend only on each group's spread, not
    * on the values' magnitude (ADVICE r3). */
  def minAnchored(e: DataFrame, key: String = "event_type"): DataFrame = {
    val anchors = e.groupBy(col(key))
      .agg(min(col("vc")).as("a"))
      .select(col(key).as("t1"), col("a"))
    e.join(broadcast(anchors), col(key) === col("t1"))
  }

  /** vc − a of [[minAnchored]] rows, in DECIMAL(38,0). */
  def centered: Column = (col("vc") - col("a")).cast(D38)

  /** Per (event_type, a) group of [[minAnchored]] `e`: Σd (`sv`) and
    * Σd² (`s2`) of the [[centered]] value, exact then as doubles, and
    * the count `n`. */
  def anchoredSums(e: DataFrame): DataFrame = {
    val dd = centered
    minAnchored(e)
      .groupBy(col("event_type"), col("a"))
      .agg(sum(dd).cast("double").as("sv"),
           sum(dd * dd).cast("double").as("s2"),
           count(lit(1)).as("n"))
  }

  /** Per-event-type central moments of the anchored value cents: the
    * grouped frame `g` (event_type, n, s1…s4: exact Σd…Σd⁴ as doubles),
    * `nD` = n as a double, and m₂/m₃/m₄ over `g` by the raw → central
    * identities, one double expression tree. */
  final case class Moments4(g: DataFrame, nD: Column, m2: Column,
                            m3: Column, m4: Column)

  def eventMoments4(s: SparkSession, d: String): Moments4 = {
    val dd = centered
    val g = minAnchored(eventCents(s, d))
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
    Moments4(g, nD, m2, m3, m4)
  }

  /** Click and view counts per distinct value cent: (vc, nc, nv). */
  def clickViewByCents(s: SparkSession, d: String): DataFrame =
    eventCents(s, d, "click", "view").groupBy(col("vc"))
      .agg(sum(when(col("event_type") === "click", 1L)
             .otherwise(0L)).as("nc"),
           sum(when(col("event_type") === "view", 1L)
             .otherwise(0L)).as("nv"))

  /** Purchases and clicks for the as-of joins: event_id, user_id,
    * ts_us, `kind` (0 purchase, 1 click) and the click's own ts/id in
    * `click_us`/`click_id` (null on purchases). */
  def purchasesAndClicks(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("kind"),
        when(col("event_type") === "click", col("ts_us")).as("click_us"),
        when(col("event_type") === "click", col("event_id")).as("click_id"))

  /** Per-user event order of [[purchasesAndClicks]]: a purchase sorts
    * before a click of the same µs. */
  def asOfOrder: WindowSpec = Window.partitionBy(col("user_id"))
    .orderBy(col("ts_us").asc, col("kind").asc, col("event_id").asc)

  /** Month blocks of order revenue for the blocked rank tests, by
    * `treatment` (named `name`, one of the 5 priorities): `full` holds
    * the months (`_fym`) with all 5 treatments, and `ranked` those
    * months' cells (ym, name, v = Σ cents) with r2 = 2 × the cell's
    * average rank of v within its month. */
  final case class MonthBlocks(full: DataFrame, ranked: DataFrame)

  def monthBlocks(s: SparkSession, d: String, treatment: Column,
                  name: String): MonthBlocks = {
    val cell = Tables.orders(s, d)
      .select((year(col("o_orderdate").cast("timestamp")) * 100 +
               month(col("o_orderdate").cast("timestamp"))).as("ym"),
              treatment,
              cents("o_totalprice").as("vc"))
      .groupBy(col("ym"), col(name))
      .agg(sum(col("vc")).as("v"))
    val full = cell.groupBy(col("ym"))
      .agg(count(lit(1)).as("kk")).filter(col("kk") === 5)
      .select(col("ym").as("_fym"))
    val inFull = cell.join(broadcast(full),
                           col("ym") === col("_fym"), "left_semi")
    val wR = Window.partitionBy(col("ym")).orderBy(col("v"))
    val wT = Window.partitionBy(col("ym"), col("v"))
    MonthBlocks(full, inFull
      .withColumn("rk", rank().over(wR).cast("long"))
      .withColumn("ties", count(lit(1)).over(wT).cast("long"))
      .withColumn("r2", col("rk") * 2 + col("ties") - 1))
  }

  /** Mann–Kendall S of (xi, yi) × (xj, yj) pairs with xj > xi: the sum
    * of sign(yj − yi). */
  def kendallS: Column =
    sum(when(col("yj") > col("yi"), 1L)
          .when(col("yj") < col("yi"), -1L)
          .otherwise(0L))

  /** Continuity-corrected Mann–Kendall z of `s_stat` and `var18`
    * (18 × Var S), rounded (R3). */
  def kendallZ4: Column =
    r4(when(col("s_stat") > 0,
         (col("s_stat") - 1).cast("double") /
           sqrt(col("var18").cast("double") / 18.0))
       .when(col("s_stat") < 0,
         (col("s_stat") + 1).cast("double") /
           sqrt(col("var18").cast("double") / 18.0))
       .otherwise(lit(0.0)))

  /** One-way ANOVA sums of squares × 10⁴, exact: from per-group rows
    * (ng, sg, ss4) — group size, Σd and 10⁴·Σd² of integer values d —
    * to one row (n_groups, n, ssb4, ssw4) in DECIMAL(38,0). */
  def anovaSS4(groups: DataFrame): DataFrame =
    groups
      .select(col("ng"), col("sg"), col("ss4"),
              halfUpDivWideDec(col("sg").cast(D38) * col("sg") * 10000,
                               col("ng")).as("tg"))
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
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

  /** Orders as (o_orderkey, cents, y): the TxTable demos' input. */
  def orderCentsByYear(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"),
              cents("o_totalprice").as("cents"),
              year(col("o_orderdate").cast("timestamp")).as("y"))

  /** Pearson's exact co-moment sums of (x, y) per group of `g`: n and
    * Σx, Σy, Σxy, Σx², Σy² in DECIMAL(38,0), read by [[pearsonR4]]. */
  def pearsonSums(g: RelationalGroupedDataset, x: Column,
                  y: Column): DataFrame = {
    val (xd, yd) = (x.cast(D38), y.cast(D38))
    g.agg(count(lit(1)).cast("long").as("n"),
          sum(xd).as("sx"), sum(yd).as("sy"),
          sum((xd * yd).cast(D38)).as("sxy"),
          sum((xd * xd).cast(D38)).as("sxx"),
          sum((yd * yd).cast(D38)).as("syy"))
  }

  /** Pearson r of [[pearsonSums]]' columns: one double, rounded (R3). */
  def pearsonR4: Column = {
    val nD = col("n").cast(D38)
    round((nD * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((nD * col("sxx") - col("sx") * col("sx")).cast("double") *
               (nD * col("syy") - col("sy") * col("sy")).cast("double")), 4)
  }
}
