package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers enforcing the cross-engine determinism rules (SURVEY.md §2.0).
  * The driver hash-compares every query's rows against DuckDB, so:
  *  - R1: every query ends in a total ORDER BY (unique key set).
  *  - R2: money math in DECIMAL(18,2) — float sums are partition-order
  *    dependent in Spark and would flap the hash.
  *  - R3: unavoidable doubles get round(x, 4) on both sides.
  *  - R4: event time compared as epoch-µs BIGINT or DATE/string.
  */
object Determinism {
  val Money: DecimalType = DecimalType(18, 2)

  /** Cast an input double to exact money before aggregating (R2). */
  def money(c: Column): Column = c.cast(Money)
  def money(name: String): Column = money(col(name))

  /** Final projection of a decimal aggregate: round to cents, then emit
    * as DOUBLE. MUST round explicitly before casting: Spark's decimal
    * downscale cast rounds HALF_UP but DuckDB's TRUNCATES (verified:
    * CAST(0.135 AS DEC(18,2)) → 0.13 there). ROUND(x,2) is
    * half-away-from-zero in both engines, so the oracle side is always
    * `CAST(ROUND(x, 2) AS DOUBLE)`.
    *
    * Why DOUBLE and not DECIMAL(18,2) (round-1 driver lesson): the
    * driver's comparator stringifies pandas values — Spark decimal
    * parquet loads as Decimal('253942.00') while DuckDB decimals arrive
    * float64 ('253942.0'), so equal values hash differently. The same
    * scale-2 decimal converts to the same double on both engines
    * (conversion is exact-input deterministic), making the final double
    * bit-identical. All *aggregation* still happens in DECIMAL(18,2)
    * (R2) — only the final output column is widened. */
  def asMoney(c: Column): Column = round(c, 2).cast(Money).cast("double")

  /** Final projection of a NON-aggregated money input column: exact
    * decimal cents, widened to DOUBLE for the comparator (same R9
    * rationale as asMoney; the oracle side is
    * `CAST(ROUND(CAST(x AS DECIMAL(18,2)), 2) AS DOUBLE)`). The one
    * named home of the output-widening rule for raw columns. */
  def moneyOut(c: Column): Column = money(c).cast("double")
  def moneyOut(name: String): Column = moneyOut(col(name))

  /** Deterministic average: exact decimal sum → one double → divide by
    * exact count → round. Avoids both engines' (different) native
    * decimal-avg semantics. */
  def avg4(sumDec: Column, cnt: Column): Column =
    round(sumDec.cast("double") / cnt, 4)

  /** R3 rounding for unavoidable doubles.
    *
    * Negative-zero rule (found by the sf0.1 sweep, round 2): a tiny
    * negative rounds to -0.0 in DuckDB (str '-0.0') but to +0.0 in
    * Spark (Round goes through BigDecimal, which has no signed zero) —
    * so every ORACLE output column of scale-4 round carries `+ 0`
    * (IEEE: -0.0 + 0 = +0.0); the Spark side needs nothing. */
  def r4(c: Column): Column = round(c, 4)

  /** BOUNDARY-exact scale-4 ratio via integer math, for averages whose
    * double form can land ON the x.xxxx5 rounding boundary. avg4's
    * double division sits a half-ulp either side of the boundary and
    * the two engines then round DIFFERENT directions — Spark rounds
    * the exact binary expansion (BigDecimal HALF_UP), DuckDB multiplies
    * by 1e4 first (its own rounding) — observed at sf0.1:
    * q_ts_fill_forward, 47.25375 → 47.2538 vs 47.2537.
    *
    * Inputs: `num`/`den` integral Columns with num/den = the result in
    * 1e-4 units. round-half-up(num/den) = ⌊(2·num+den)/(2·den)⌋,
    * computed in TRUE long integral division (Catalyst IntegralDivide,
    * the SQL `div`, via the bridge — Column algebra has no `div`), so
    * exactness holds across the whole long range (only 2·|num|+den <
    * 2⁶³ overflow remains; den > 0). The final /10⁴ is the SAME double
    * op on both engines → bit-identical.
    * Negative numerators round half-AWAY-from-zero (matching the
    * round()/avg4 family this replaces) via the mirrored formula —
    * a floor-division-only form would round negative halves toward
    * +∞ on BOTH engines, an agreement the oracle gate could never
    * catch. Oracle twin (num ≥ 0, the only shipped case):
    * `CAST((2*num + den) // (2*den) AS DOUBLE) / 10000.0`; a negative
    * domain needs the same CASE mirror as here.
    *
    * den ≤ 0 RAISES (guarded `raise_error`): DuckDB's `//` raises on
    * a zero divisor while Spark's IntegralDivide quietly returns NULL,
    * so an unguarded den=0 would make the engines diverge silently
    * instead of failing loudly on both. Overflow bound: exact while
    * 2·|num| + den < 2⁶³ — callers whose scaled numerator can exceed
    * that (ratios of 38-digit decimal sums) use [[intRatio4Wide]]. */
  def intRatio4(num: Column, den: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    def halfUp(n: Column): Column = GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftBridge.expression(n * 2 + den),
        GraftBridge.expression(den.cast("long") * 2)))
    val n = num.cast("long")
    when(den > 0,
      when(n >= 0, halfUp(n)).otherwise(-halfUp(-n))
        .cast("double") / 10000.0)
      .otherwise(raise_error(lit("intRatio4: den must be > 0")))
  }

  /** [[intRatio4]] over DECIMAL(38,0) operands — for scaled numerators
    * that can leave the long range (e.g. a revenue share where
    * num = cents·10⁴: int64 wraps SILENTLY in Spark once a group's
    * revenue passes ~$4.6e12, while DuckDB BIGINT raises — the engines
    * would diverge). IntegralDivide accepts decimal inputs and still
    * returns LONG, and the quotient here is a scale-4 ratio (≤ 10⁴ for
    * num ≤ den), so only the OPERANDS need widening. Exact while
    * 2·|num| + den < 10³⁸ (den > 0 enforced as in intRatio4) — that is
    * $10³² of cents-scaled revenue, unreachable at any physical SF.
    * Oracle twin: the intRatio4 formula with `CAST(… AS HUGEINT)`
    * operands (DuckDB's 128-bit `//` is exact over the same range). */
  def intRatio4Wide(num: Column, den: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    val D = DecimalType(38, 0)
    val d = den.cast(D)
    def halfUp(n: Column): Column = GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftBridge.expression((n * 2 + d).cast(D)),
        GraftBridge.expression((d * 2).cast(D))))
    val n = num.cast(D)
    when(d > 0,
      when(n >= 0, halfUp(n)).otherwise(-halfUp(-n))
        .cast("double") / 10000.0)
      .otherwise(raise_error(lit("intRatio4Wide: den must be > 0")))
  }

  /** avg4, boundary-exact: decimal sum → exact 1e-4-unit integer →
    * intRatio4. Use for NEW money averages; avg4 stays for the round-1
    * queries whose hashes are pinned and never hit the boundary.
    * OVERFLOW BOUND: the long numerator wraps once |sum|·10⁴ ≥ 2⁶³
    * (≈ $9.2e14 per group) — groups that can reach that at the target
    * SF use [[avgExact4Wide]]. */
  def avgExact4(sumDec: Column, cnt: Column): Column =
    intRatio4((sumDec * 10000).cast("long"), cnt)

  /** [[avgExact4]] over DECIMAL(38,0) operands — for group sums that
    * can leave the long range once 1e4-scaled (the intRatio4Wide
    * rationale: Spark's decimal→long cast wraps/NULLs SILENTLY while
    * DuckDB's raises, so the engines would diverge instead of failing
    * loudly). Exact to 10³⁴ of summed units per group. Oracle twin:
    * the avgExact4 formula with `CAST(… AS HUGEINT)` operands. */
  def avgExact4Wide(sumDec: Column, cnt: Column): Column =
    intRatio4Wide((sumDec * 10000).cast(DecimalType(38, 0)), cnt)

  /** Scale-4 revenue share m/t of two money aggregates, cent-exact at
    * any magnitude: both sides round to cents first, then num = m·10⁶
    * and den = t·10² (num/den = the share in 1e-4 units) run through
    * [[intRatio4Wide]]. THE one named home of the wide share encoding —
    * previously copy-pasted at three call sites (review r4). Oracle
    * twin: the intRatio4 formula with
    * `CAST(ROUND(m,2)*1000000 AS HUGEINT)` / `CAST(ROUND(t,2)*100 AS
    * HUGEINT)` operands. */
  def shareRatio4Wide(m: Column, t: Column): Column =
    intRatio4Wide((round(m, 2) * 1000000).cast(DecimalType(38, 0)),
                  (round(t, 2) * 100).cast(DecimalType(38, 0)))

  /** Exact HALF-UP integer quotient round(num/den) over DECIMAL(38,0)
    * operands — the integer-valued core of [[intRatio4Wide]] exposed
    * for callers that go on SUMMING the quotients (per-group scaled
    * terms like Σ round(S_g²·10⁴/n_g) in ANOVA / Kruskal-Wallis: each
    * term is an exact integer, so the cross-group sum is associative
    * and partition-order free — no double accumulation ever happens).
    * Domain: num ≥ 0, den > 0 (callers anchor to the group MIN first);
    * oracle twin `(2*num + den) // (2*den)` on HUGEINT operands. */
  def halfUpDivWide(num: Column, den: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    val D = DecimalType(38, 0)
    val d = den.cast(D)
    GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftBridge.expression((num.cast(D) * 2 + d).cast(D)),
        GraftBridge.expression((d * 2).cast(D))))
  }

  /** [[halfUpDivWide]] for quotients that can THEMSELVES exceed int64
    * — found by the r6 sf1 oracle gate: q_events_kruskal's per-group
    * term R_g²·10⁴/(4n_g) ≈ n_g·N²·10⁴ passes 2⁶³ already at N = 10⁶
    * rows, and IntegralDivide returns LONG, so the (ANSI) job dies
    * with an arithmetic overflow at 10× data while the DuckDB twin
    * (HUGEINT `//`) sails on. Returns DECIMAL(38,0): the remainder is
    * subtracted BEFORE the decimal division, so the divide is an
    * integer-exact ratio — the only decimal division in the repo that
    * can never round (Spark types (38,0)/(38,0) as DECIMAL(38,6);
    * an exact integer quotient ≤ 10³² is representable there
    * losslessly, and ours are ≤ ~10²⁸ by the num < 10³⁸ domain).
    * Same num ≥ 0, den > 0 domain and HUGEINT oracle twin as
    * [[halfUpDivWide]]. */
  def halfUpDivWideDec(num: Column, den: Column): Column = {
    val D = DecimalType(38, 0)
    val a = (num.cast(D) * 2 + den.cast(D)).cast(D)
    val b = (den.cast(D) * 2).cast(D)
    ((a - pmod(a, b)) / b).cast(D)
  }

  /** TRUE long integral division `a div b` (Catalyst IntegralDivide —
    * Column algebra has no `div`, and double `/`+floor misbins at
    * quotient boundaries). CROSS-ENGINE CONTRACT: Spark truncates
    * toward zero while DuckDB's `//` floors, so the two agree ONLY on
    * the non-negative domain — callers banding a signed quantity shift
    * it non-negative first (e.g. acctbal cents + 10⁷) instead of
    * trusting either engine's negative convention. */
  def ldiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftBridge.expression(a.cast("long")),
        GraftBridge.expression(b.cast("long"))))
  }

  /** Cardinality guard for value-DOMAIN window frames (VERDICT r5
    * "What's wrong" #3). The rank-statistics queries (Spearman,
    * Mann-Whitney, KS, Kruskal-Wallis) collapse the corpus to one row
    * per DISTINCT value before any unpartitioned cumulative window —
    * sound only while the value domain stays ≪ corpus (price cents:
    * ~50k values at every SF). That bound was documented but never
    * ENFORCED: if a future column with corpus-like cardinality (ids,
    * micro-timestamps) rode these helpers, the single-task window
    * would silently become a full-corpus sort.
    *
    * This guard makes the assumption executable: a whole-frame count
    * over the already-collapsed frame (same frame the cumulative
    * window sorts — no extra shuffle; SortExec is reused) feeds
    * `assert_true(n ≤ cap)`, so the job FAILS LOUDLY the moment the
    * domain outgrows the documented bound instead of degrading. The
    * isnull(assert_true(...)) filter keeps the check in the physical
    * plan (assert_true is NULL on success, so the filter passes every
    * row; an unreferenced column would be pruned) and never drops
    * rows. Default cap 2²² ≈ 4.2M rows ≈ 64 MiB of (long, long)
    * frame — past that a single-task window stops being negligible
    * and the query belongs on the block-CDF / heap-agg path. */
  /** Distributed inclusive prefix sums over a COLLAPSED (one row per
    * distinct `v`) frame — the scale-safe replacement for the
    * single-task `Window.orderBy(v)` that every rank/CDF statistic
    * used to run over its value domain (round 8: the ScaleUp
    * diversity sweep proved those domains GROW with the corpus on
    * diverse data — q_stats_spearman's price-cents frame blew the
    * 2²² boundedDomain cap at 10× — so the "bounded price book"
    * assumption does not survive contact with un-replicated data).
    *
    * Two-pass prefix sum: range-partition by `v` (equal keys
    * co-locate; per-partition frames are ~|domain|/parts), compute
    * per-partition running sums with a PARTITIONED window, then add
    * each partition's exclusive offset from a broadcast ≤`parts`-row
    * frame. Output columns: `cum_<c>` (inclusive running Σc in `v`
    * order) and `tot_<c>` (grand total — derived from the tiny
    * offsets frame, NOT from a second corpus-frame pass) per input
    * count column.
    *
    * Determinism: `cum`/`tot` are pure functions of the data — the
    * (run-varying) range boundaries only decide WHERE the prefix sum
    * is stitched, never its values; the input being collapsed means
    * no intra-value tie order exists to leak in. Requires every count
    * column non-null (true of agg outputs). */
  def distCumSums(df: org.apache.spark.sql.DataFrame, v: String,
                  cnts: Seq[String], parts: Int = -1)
      : org.apache.spark.sql.DataFrame =
    distCumSumsBy(df, Seq(v), cnts, parts)

  /** [[distCumSums]] over a COMPOSITE ordering key (e.g. (value,
    * tiebreak-id) for rank frames where equal values must still order
    * totally — gini's (rc, custkey), abc's (−rev, partkey)). The input
    * must be collapsed to one row per distinct key TUPLE; the prefix
    * sum runs in the lexicographic order of `vs`. */
  /** Pinned frames [[distCumSumsBy]] has persisted and not yet
    * released. Unpersist is CORRECTNESS-SAFE at any time — the
    * InMemoryRelation keeps its one cached RDD instance, so recompute
    * of evicted/unpersisted partitions re-runs the SAME lineage
    * against the SAME RangePartitioner (pids cannot shift) — it only
    * trades cache hits for recompute. What is NOT safe is unbounded
    * growth: each rank/CDF query pins one frame for the life of the
    * session (round-10 advisory), so a 391-query sweep would
    * accumulate storage until ContextCleaner GC. The queue caps at
    * [[MaxPinned]]: the oldest frame is dropped on overflow. The
    * library never releases anything else; a harness that wants a
    * clean session between queries sweeps it itself
    * ([[graft.Bench.release]]). */
  private val pinnedCumFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.DataFrame]()
  private val MaxPinned = 4

  def distCumSumsBy(df: org.apache.spark.sql.DataFrame, vs: Seq[String],
                    cnts: Seq[String], parts: Int = -1)
      : org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ord = vs.map(col)
    // r12 (guide §2.2): parts defaulted to the constant 64 — tuned for
    // neither local mode nor a cluster. Default (-1) now follows
    // spark.sql.shuffle.partitions, so the range fan-out scales with
    // the session like every other exchange; explicit values still
    // win. The stitch positions move with the partition count but the
    // cum/tot VALUES are partition-invariant by construction (above).
    // sessionState.conf.numShufflePartitions, NOT a raw conf-string
    // parse (r12 advisory): platforms can set the conf to a non-integer
    // (e.g. "auto"), which would NumberFormatException here — the
    // resolved session value is always an Int.
    val nParts =
      if (parts > 0) parts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // persist() is CORRECTNESS here, not caching (round-9 advisory):
    // `within` feeds two plan branches — the per-pid offsets aggregate
    // and the probe side of the broadcast join — and both must see the
    // SAME range boundaries / pid assignment. Without a pin that only
    // holds if ReuseExchange happens to canonicalize the two branches
    // identically (an optimization, not a contract; AQE or a future
    // refactor could split them into two exchanges with independently
    // sampled RangePartitioners → silently shifted ranks). A persisted
    // frame is ONE InMemoryRelation — one exchange, one partitioner —
    // in every consumer by construction; eviction recompute re-reads
    // the same shuffle output, so pids stay stable. It stays a persist,
    // not a localCheckpoint: PlanSpec's spearman audit finds the
    // collapsed rank maps through InMemoryRelation.cachedPlan, and a
    // checkpoint's LogicalRDD carries no plan to inspect.
    val ranged = df.repartitionByRange(nParts, ord: _*)
      .withColumn("_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinnedCumFrames.add(ranged)
    while (pinnedCumFrames.size > MaxPinned)
      Option(pinnedCumFrames.poll())
        .foreach(f => scala.util.Try(f.unpersist(blocking = false)))
    val wIn = W.partitionBy(col("_pid")).orderBy(ord: _*)
      .rowsBetween(Long.MinValue, 0)
    val within = cnts.foldLeft(ranged)((acc, c) =>
      acc.withColumn(s"_ci_$c", sum(col(c)).over(wIn)))
    // r12 (guide §1.2): the per-partition totals need only the plain
    // sums, so they aggregate the persisted `ranged` frame DIRECTLY —
    // the old form aggregated `within`, re-running the running-sum
    // window on the offsets branch for columns it then ignored (one
    // wasted window pass over the full domain frame per call).
    val perPid = ranged.groupBy(col("_pid"))
      .agg(sum(col(cnts.head)).as(s"_t_${cnts.head}"),
           cnts.tail.map(c => sum(col(c)).as(s"_t_$c")): _*)
    // ≤ `parts` rows: the unpartitioned windows here are over a frame
    // bounded by a LITERAL, not by the data
    val wOff = W.orderBy(col("_pid")).rowsBetween(Long.MinValue, -1)
    val wTot = W.partitionBy()
    val off = cnts.foldLeft(perPid)((acc, c) =>
      acc.withColumn(s"_off_$c",
           coalesce(sum(col(s"_t_$c")).over(wOff), lit(0L)))
         .withColumn(s"tot_$c", sum(col(s"_t_$c")).over(wTot)))
      .select(col("_pid").as("_pid2") +:
        cnts.flatMap(c => Seq(col(s"_off_$c"), col(s"tot_$c"))): _*)
    val joined = within.join(broadcast(off), col("_pid") === col("_pid2"))
    cnts.foldLeft(joined)((acc, c) =>
      acc.withColumn(s"cum_$c", col(s"_ci_$c") + col(s"_off_$c")))
      .drop("_pid" +: "_pid2" +:
        cnts.flatMap(c => Seq(s"_ci_$c", s"_off_$c")): _*)
  }

  def boundedDomain(df: org.apache.spark.sql.DataFrame, what: String,
                    cap: Long = 1L << 22)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(Long.MinValue, Long.MaxValue)
    df.withColumn("_dom_n", count(lit(1)).over(w))
      .filter(isnull(assert_true(col("_dom_n") <= cap,
        lit(s"$what: value-domain frame exceeded $cap distinct values " +
            "— the bounded-domain window assumption no longer holds; " +
            "move this statistic onto the block-CDF / bounded-heap " +
            "path before running at this scale"))))
      .drop("_dom_n")
  }
}
