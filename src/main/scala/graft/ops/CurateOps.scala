package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.api.{Dedup, Events, Pipeline, Text}
import graft.io.Tables

/** Corpus-curation operators (SURVEY §2.6 extension, round 4): the
  * remaining steps a production training-data pipeline runs between
  * "deduplicated corpus" and "shards on disk" — fuzzy record linkage,
  * temperature-scaled language mixing, fixed-size eval-set sampling,
  * robust (winsorized) corpus stats, equi-depth profiling histograms,
  * deterministic epoch shuffling + shard planning — plus the two
  * event-analytics staples this suite still lacked (marketing
  * attribution and EWMA smoothing).
  *
  * Each query delegates to the public parameterized API
  * (`graft.api.{Text, Events, Pipeline}`) where the operator is
  * reusable, so the oracle gate verifies the library itself.
  *
  * Scale notes (100 TB):
  *  - the fuzzy join is q-gram-count-filtered candidate generation +
  *    confirm — never the quadratic cross join its oracle runs.
  *  - mixing/sampling/sharding decisions are content-hash arithmetic:
  *    map-side, replayable, cluster-size-independent.
  *  - the histogram and winsorize compute tiny quantile frames that
  *    broadcast back — no global sort, no ntile serialization.
  *  - attribution and EWMA are single-(key,time)-sort window scans
  *    with O(1) running state per row.
  */
object CurateOps extends OpGroup {

  /** DuckDB integer value of hex digit `i` (1-based) of md5 expr `h`. */
  private def hexd(h: String, i: Int): String =
    s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1)"

  /** DuckDB rendering of Pipeline.hash16 over an ALREADY-COMPUTED md5
    * hex column `h` (the first 4 hex digits as an integer). */
  private def u16OfHex(h: String): String =
    s"(${hexd(h, 1)} * 4096 + ${hexd(h, 2)} * 256 + " +
    s"${hexd(h, 3)} * 16 + ${hexd(h, 4)})"

  def qs: Seq[Q] = Seq(

    Q(
      // fuzzy record linkage: all distinct part-name pairs within
      // Levenshtein distance 2, via the q-gram count filter (candidates
      // = pairs sharing enough positional bigrams, then exact confirm).
      // The ORACLE is the naive quadratic join — the hash match is a
      // machine proof that the prefilter dropped no true pair on this
      // corpus. At 100 TB the filter is the whole point: strings only
      // meet through shared grams (inverted-index join), never all-pairs.
      "q_fuzzy_editdist_join",
      (s, d) => Text.editDistancePairs(Tables.part(s, d), col("p_name"),
                                       maxDist = 2)
        .orderBy(col("name_a"), col("name_b")),
      """WITH n AS (
        |  SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
        |SELECT a.s AS name_a, b.s AS name_b,
        |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        |FROM n a JOIN n b ON a.s < b.s
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY name_a, name_b""".stripMargin),

    Q(
      // last-touch attribution: each purchase is credited to the user's
      // most recent strictly-preceding click/view; purchases with no
      // prior touch land in 'none'. One (user, time) window sort, O(1)
      // carried state — the composable sessionization shape.
      "q_events_attribution",
      (s, d) => Events.attributeLastTouch(
          Tables.events(s, d), col("user_id"), col("ts"),
          Seq(col("event_id")), col("event_type"),
          Seq("click", "view"), "purchase")
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n"),
             asMoney(sum(money("value"))).as("revenue"))
        .orderBy(col("channel")),
      """WITH t AS (
        |  SELECT event_type, value,
        |    COALESCE(last_value(
        |        CASE WHEN event_type IN ('click', 'view')
        |             THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id
        |            ORDER BY epoch_us(ts) ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'none') AS channel
        |  FROM events)
        |SELECT channel, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS revenue
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY channel ORDER BY channel""".stripMargin),

    Q(
      // LINEAR multi-touch attribution — the fairness twin of
      // last-touch: each purchase's value is split EQUALLY across all
      // click/view touches of the same user since their previous
      // purchase (journeys bound by the purchase-count running sum, so
      // one window sort segments the stream — no time-range self-join).
      // Credit is exact: per-touch share = round(value·10⁻⁴$/n) via
      // half-up integral division on the 1e-4-dollar grid (both
      // engines run the identical integer formula; a double 1/n split
      // would flap the hash), touchless purchases land whole in
      // 'none'. Scale: one (user, time) window + two hash-aggs; the
      // journey-level frame is purchase-sized, not event-sized.
      "q_events_attribution_linear",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us"),
                  col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val wPrev = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val seg = e.withColumn("grp", coalesce(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(wPrev), lit(0L)))
        // r13 (guide §3.3/§2.4): `seg` used to feed TWO aggregation
        // branches (journey totals + per-channel counts), and each
        // branch re-planned the event scan AND the (user, time) window
        // sort — the query's dominant cost, paid twice. One
        // (user, grp, event_type)-grain pre-aggregation runs the
        // window ONCE; both consumers derive from the journey-sized
        // result (materialized per invocation — it feeds two
        // branches). Sums regroup associatively over exact integers,
        // so every downstream value is identical.
        val ag = seg.groupBy(col("user_id"), col("grp"),
                             col("event_type"))
          .agg(sum(when(col("event_type") === "purchase", col("vc"))
                 .otherwise(0L)).as("_pv"),
               count(lit(1)).as("_c"))
          .localCheckpoint()
        val j = ag.groupBy(col("user_id"), col("grp"))
          .agg(sum(col("_pv")).as("pv"),
               sum(when(col("event_type").isin("click", "view"),
                        col("_c")).otherwise(0L)).as("n_t"),
               sum(when(col("event_type") === "purchase", col("_c"))
                 .otherwise(0L)).as("n_p"))
          .filter(col("n_p") > 0)
        val byChan = ag
          .filter(col("event_type").isin("click", "view"))
          .select(col("user_id").as("_u"), col("grp").as("_g"),
                  col("event_type").as("channel"), col("_c").as("c"))
        val touched = j.filter(col("n_t") > 0)
          .join(byChan, col("user_id") === col("_u") &&
                        col("grp") === col("_g"))
          .select(col("channel"), col("c").as("n_credited"),
                  (col("c") * halfUpDivWide(col("pv") * 100, col("n_t")))
                    .cast("long").as("u4"))
        val none = j.filter(col("n_t") === 0)
          .select(lit("none").as("channel"), col("n_p").as("n_credited"),
                  (col("pv") * 100).as("u4"))
        touched.unionByName(none)
          .groupBy(col("channel"))
          .agg(sum(col("n_credited")).as("n_credited"),
               (sum(col("u4")).cast("double") / 10000.0)
                 .as("attributed"))
          .orderBy(col("channel"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |seg AS (
        |  SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY ts_us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS grp
        |  FROM e),
        |j AS (
        |  SELECT user_id, grp,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN vc
        |             ELSE 0 END) AS BIGINT) AS pv,
        |    CAST(SUM(CASE WHEN event_type IN ('click', 'view') THEN 1
        |             ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
        |             ELSE 0 END) AS BIGINT) AS n_p
        |  FROM seg GROUP BY user_id, grp
        |  HAVING SUM(CASE WHEN event_type = 'purchase' THEN 1
        |             ELSE 0 END) > 0),
        |bc AS (
        |  SELECT user_id, grp, event_type AS channel, COUNT(*) AS c
        |  FROM seg WHERE event_type IN ('click', 'view')
        |  GROUP BY user_id, grp, event_type),
        |rows_ AS (
        |  SELECT bc.channel, CAST(bc.c AS BIGINT) AS n_credited,
        |    CAST(bc.c * ((2 * CAST(j.pv * 100 AS HUGEINT) + j.n_t)
        |                 // (2 * CAST(j.n_t AS HUGEINT))) AS BIGINT)
        |      AS u4
        |  FROM j JOIN bc ON j.user_id = bc.user_id AND j.grp = bc.grp
        |  WHERE j.n_t > 0
        |  UNION ALL
        |  SELECT 'none' AS channel, n_p AS n_credited,
        |    pv * 100 AS u4
        |  FROM j WHERE n_t = 0)
        |SELECT channel, CAST(SUM(n_credited) AS BIGINT) AS n_credited,
        |  CAST(SUM(u4) AS DOUBLE) / 10000.0 AS attributed
        |FROM rows_ GROUP BY channel ORDER BY channel""".stripMargin),

    Q(
      // equi-depth histogram of line revenue in cents: 8 buckets of
      // ~equal count via percentile_disc boundaries (actual data
      // values) broadcast back to a map-side bucket assignment — the
      // scalable profiling histogram (global-sort ntile would
      // serialize the corpus into one partition).
      "q_agg_histogram_eqdepth",
      (s, d) => Pipeline.equiDepthHistogram(
          Tables.lineitem(s, d),
          (money("l_extendedprice") * 100).cast("long"), buckets = 8)
        .withColumn("bucket", col("bucket").cast("int"))
        .orderBy(col("bucket")),
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS _v
        |  FROM lineitem),
        |b AS (
        |  SELECT quantile_disc(_v, 0.125) AS b1,
        |         quantile_disc(_v, 0.25)  AS b2,
        |         quantile_disc(_v, 0.375) AS b3,
        |         quantile_disc(_v, 0.5)   AS b4,
        |         quantile_disc(_v, 0.625) AS b5,
        |         quantile_disc(_v, 0.75)  AS b6,
        |         quantile_disc(_v, 0.875) AS b7
        |  FROM v)
        |SELECT CAST(
        |    (CASE WHEN _v > b1 THEN 1 ELSE 0 END) +
        |    (CASE WHEN _v > b2 THEN 1 ELSE 0 END) +
        |    (CASE WHEN _v > b3 THEN 1 ELSE 0 END) +
        |    (CASE WHEN _v > b4 THEN 1 ELSE 0 END) +
        |    (CASE WHEN _v > b5 THEN 1 ELSE 0 END) +
        |    (CASE WHEN _v > b6 THEN 1 ELSE 0 END) +
        |    (CASE WHEN _v > b7 THEN 1 ELSE 0 END) AS INTEGER) AS bucket,
        |  COUNT(*) AS n, MIN(_v) AS lo, MAX(_v) AS hi
        |FROM v, b GROUP BY 1 ORDER BY bucket""".stripMargin),

    Q(
      // temperature-scaled language mixing (T=2): weight ∝ sqrt(p_lang)
      // upsamples tail languages; shares and per-language target doc
      // counts out of a 100k budget, integer-exact (quantized weights +
      // half-up integral division — sqrt is the one IEEE-exact power).
      "q_mix_temperature",
      (s, d) => Pipeline.temperatureMixT2(
          Tables.documents(s, d), col("lang"), budget = 100000L)
        .orderBy(col("grp")),
      """WITH c AS (
        |  SELECT lang AS grp, COUNT(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT SUM(n) AS tot FROM c),
        |w AS (
        |  SELECT grp, n,
        |    CAST(FLOOR(SQRT(CAST(n AS DOUBLE) / tot) * 1000000) AS BIGINT)
        |      AS wq
        |  FROM c, t),
        |s AS (SELECT SUM(wq) AS wtot FROM w)
        |SELECT grp, n,
        |  CAST((2 * (wq * 10000) + wtot) // (2 * wtot) AS DOUBLE) / 10000.0
        |    AS share,
        |  CAST((100000 * wq) // wtot AS BIGINT) AS target
        |FROM w, s ORDER BY grp""".stripMargin),

    Q(
      // EWMA smoothing (α = 1/2) of event values per type: the bounded
      // 8-term form Σ v_{t-j}·2^(7-j) / Σ 2^(7-j) — pure integer
      // numerator/denominator over cents (missing leading terms drop
      // out of BOTH sums), so the final double division is the one
      // float op and is bit-identical cross-engine. One window sort,
      // 8 lag taps pipelined on the sorted partition.
      "q_ts_ewma",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val e = Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("ts"),
                  (money("value") * 100).cast("long").as("vc"))
        val lags = (1 to 7).map(j => lag(col("vc"), j).over(w))
        val weights = (1 to 7).map(j => 1L << (7 - j))
        val num = lags.zip(weights)
          .map { case (l, wt) => coalesce(l, lit(0L)) * wt }
          .foldLeft(col("vc") * 128)(_ + _)
        val den = lags.zip(weights)
          .map { case (l, wt) => when(l.isNotNull, lit(wt)).otherwise(0L) }
          .foldLeft(lit(128L))(_ + _)
        e.select(col("event_type"), col("event_id"),
                 (num.cast("double") / den / 100.0).as("ewma"))
          .orderBy(col("event_type"), col("event_id"))
      },
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS tu,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |t AS (
        |  SELECT event_type, event_id, vc,
        |    lag(vc, 1) OVER w AS v1, lag(vc, 2) OVER w AS v2,
        |    lag(vc, 3) OVER w AS v3, lag(vc, 4) OVER w AS v4,
        |    lag(vc, 5) OVER w AS v5, lag(vc, 6) OVER w AS v6,
        |    lag(vc, 7) OVER w AS v7
        |  FROM e
        |  WINDOW w AS (PARTITION BY event_type
        |               ORDER BY tu ASC, event_id ASC))
        |SELECT event_type, event_id,
        |  CAST(vc * 128 + COALESCE(v1, 0) * 64 + COALESCE(v2, 0) * 32
        |       + COALESCE(v3, 0) * 16 + COALESCE(v4, 0) * 8
        |       + COALESCE(v5, 0) * 4 + COALESCE(v6, 0) * 2
        |       + COALESCE(v7, 0) AS DOUBLE)
        |    / (128 + (CASE WHEN v1 IS NULL THEN 0 ELSE 64 END)
        |           + (CASE WHEN v2 IS NULL THEN 0 ELSE 32 END)
        |           + (CASE WHEN v3 IS NULL THEN 0 ELSE 16 END)
        |           + (CASE WHEN v4 IS NULL THEN 0 ELSE 8 END)
        |           + (CASE WHEN v5 IS NULL THEN 0 ELSE 4 END)
        |           + (CASE WHEN v6 IS NULL THEN 0 ELSE 2 END)
        |           + (CASE WHEN v7 IS NULL THEN 0 ELSE 1 END))
        |    / 100.0 AS ewma
        |FROM t ORDER BY event_type, event_id""".stripMargin),

    Q(
      // deterministic epoch shuffle, shard-materialized: seed "7"
      // defines one fixed permutation — shard = hash16(seed:id) mod 8
      // (map-side), position = rank within shard by the same hash
      // (|shards|-way parallel sort; a single global row_number would
      // serialize the corpus).
      "q_shuffle_epoch",
      (s, d) => Pipeline.epochShuffle(
          Tables.documents(s, d).select(col("doc_id")),
          col("doc_id"), seed = "7", shards = 8)
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy(col("shard"), col("pos")),
      s"""WITH h AS (
        |  SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, hx,
        |    CAST(${u16OfHex("hx")} % 8 AS INTEGER) AS shard
        |  FROM h)
        |SELECT shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |                          ORDER BY hx ASC, doc_id ASC)
        |       AS INTEGER) AS pos,
        |  doc_id
        |FROM a ORDER BY shard, pos""".stripMargin),

    Q(
      // shard balance plan: content-hash assignment to 8 shards with
      // per-shard row and byte-volume stats — the pre-write check that
      // no data-loader worker gets a fat shard. Pure hash-agg; the
      // per-shard char sums are what you'd rebalance on (rows are
      // cheap, bytes are not).
      "q_shard_plan",
      (s, d) => Tables.documents(s, d)
        .groupBy(pmod(Pipeline.hash16(col("doc_id")), lit(8)).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars").cast("long")).as("chars"),
             min(col("doc_id")).as("min_doc"),
             max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard")),
      s"""WITH h AS (
        |  SELECT doc_id, n_chars,
        |    md5(COALESCE(CAST(doc_id AS VARCHAR), '')) AS hx
        |  FROM documents)
        |SELECT CAST(${u16OfHex("hx")} % 8 AS INTEGER) AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM h GROUP BY 1 ORDER BY shard""".stripMargin),

    Q(
      // fixed-SIZE eval sets: exactly 10 docs per language, selected by
      // smallest md5(doc_id) — content-addressed (stable under
      // re-partitioning and corpus growth), vs the fixed-RATE
      // q_sample_stratified. Top-k window per stratum.
      "q_sample_exact_k",
      (s, d) => Pipeline.sampleExactK(
          Tables.documents(s, d), col("lang"), col("doc_id"), k = 10)
        .select(col("lang"), col("rn"), col("doc_id"))
        .orderBy(col("lang"), col("rn")),
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |    AS INTEGER) AS rn
        |  FROM documents)
        |SELECT lang, rn, doc_id FROM t
        |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin),

    Q(
      // RFM segmentation: per-user Recency (last event time) /
      // Frequency (event count) / Monetary (summed cents), each scored
      // 0..2 against the user population's [p25, p75] DISCRETE quantile
      // boundaries, then users counted per segment. Same no-ntile
      // discipline as the equi-depth histogram: a global ntile window
      // would serialize all users into one task; the 1-row boundary
      // frame broadcasts into a map-side score instead. All integers
      // (epoch-µs, counts, cents) — engine-exact.
      "q_events_rfm",
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(col("ts_us")).as("r"),
               count(lit(1)).as("f"),
               (sum(money("value")) * 100).cast("long").as("m"))
        val qd = (c: String, p: String) =>
          expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $c)")
            .cast("long")
        val b = u.agg(qd("r", "0.25").as("r1"), qd("r", "0.75").as("r2"),
                      qd("f", "0.25").as("f1"), qd("f", "0.75").as("f2"),
                      qd("m", "0.25").as("m1"), qd("m", "0.75").as("m2"))
        val sc = (v: String, b1: String, b2: String) =>
          (when(col(v) > col(b1), 1).otherwise(0) +
           when(col(v) > col(b2), 1).otherwise(0))
        u.crossJoin(broadcast(b))
          .select(sc("r", "r1", "r2").as("r_score"),
                  sc("f", "f1", "f2").as("f_score"),
                  sc("m", "m1", "m2").as("m_score"))
          .groupBy(col("r_score"), col("f_score"), col("m_score"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("r_score"), col("f_score"), col("m_score"))
      },
      """WITH u AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS r, COUNT(*) AS f,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS m
        |  FROM events GROUP BY user_id),
        |b AS (
        |  SELECT quantile_disc(r, 0.25) AS r1, quantile_disc(r, 0.75) AS r2,
        |         CAST(quantile_disc(f, 0.25) AS BIGINT) AS f1,
        |         CAST(quantile_disc(f, 0.75) AS BIGINT) AS f2,
        |         quantile_disc(m, 0.25) AS m1, quantile_disc(m, 0.75) AS m2
        |  FROM u)
        |SELECT
        |  CAST((CASE WHEN r > r1 THEN 1 ELSE 0 END)
        |     + (CASE WHEN r > r2 THEN 1 ELSE 0 END) AS INTEGER) AS r_score,
        |  CAST((CASE WHEN f > f1 THEN 1 ELSE 0 END)
        |     + (CASE WHEN f > f2 THEN 1 ELSE 0 END) AS INTEGER) AS f_score,
        |  CAST((CASE WHEN m > m1 THEN 1 ELSE 0 END)
        |     + (CASE WHEN m > m2 THEN 1 ELSE 0 END) AS INTEGER) AS m_score,
        |  COUNT(*) AS n_users
        |FROM u, b GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),

    Q(
      // robust per-language doc-length stats: winsorize n_chars at the
      // [p05, p95] discrete quantiles, then the exact integer mean —
      // the corpus-report number a single pathological document can't
      // drag. Bounds frame broadcasts back between two hash-aggs.
      "q_stats_winsorize",
      (s, d) => Pipeline.winsorizedMean(
          Tables.documents(s, d), col("lang"), col("n_chars"),
          loQ = 0.05, hiQ = 0.95)
        .orderBy(col("grp")),
      """WITH v AS (
        |  SELECT lang AS grp, CAST(n_chars AS BIGINT) AS _v
        |  FROM documents),
        |b AS (
        |  SELECT grp, quantile_disc(_v, 0.05) AS lo,
        |         quantile_disc(_v, 0.95) AS hi
        |  FROM v GROUP BY grp),
        |c AS (
        |  SELECT v.grp, b.lo, b.hi,
        |    LEAST(GREATEST(_v, lo), hi) AS _c
        |  FROM v JOIN b ON v.grp = b.grp)
        |SELECT grp, lo, hi, COUNT(*) AS n,
        |  CAST((2 * (SUM(_c) * 10000) + COUNT(*)) // (2 * COUNT(*))
        |       AS DOUBLE) / 10000.0 AS mean
        |FROM c GROUP BY grp, lo, hi ORDER BY grp""".stripMargin),

    Q(
      // cross-SOURCE overlap matrix: distinct-3-gram Jaccard between
      // every source pair — the corpus-composition diagnostic that
      // tells you two feeds are re-crawls of each other BEFORE you pay
      // for doc-level dedup between them. Zero-overlap pairs are kept
      // (full |S|² pair frame from the sizes, intersections left-joined
      // in), so "these two sources share nothing" is an asserted 0, not
      // a missing row. Scale shape: ONE distinct (source, shingle)
      // frame; the intersection is an inverted-index self-join on the
      // shingle key — a shingle shared by k sources yields C(k,2) ≤
      // |S|² rows, never doc-pair work; sizes are |S| rows and
      // broadcast. Hot boilerplate shingles would ride the same
      // frequency cap as minhash (capHotShingles).
      "q_source_overlap",
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("source"), Dedup.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("source"),
                  explode(expr(Dedup.shingleExpr(3))).as("sh"))
          .distinct()
        val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val pairsAll = sizes
          .select(col("source").as("src_a"), col("n").as("n_a"))
          .crossJoin(sizes.select(col("source").as("src_b"),
                                  col("n").as("n_b")))
          .filter(col("src_a") < col("src_b"))
        val inter = sh.select(col("source").as("sa"), col("sh"))
          .join(sh.select(col("source").as("sb"), col("sh")), Seq("sh"))
          .filter(col("sa") < col("sb"))
          .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("_nb"))
        broadcast(pairsAll)
          .join(inter, col("sa") === col("src_a") &&
                       col("sb") === col("src_b"), "left")
          .withColumn("n_both", coalesce(col("_nb"), lit(0L)))
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
                  col("n_both"),
                  intRatio4(col("n_both") * 10000,
                            col("n_a") + col("n_b") - col("n_both"))
                    .as("jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      s"""WITH tok AS (
        |  SELECT source, ${toksSql("text")} AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |    concat(w[i+1], ' ', w[i+2], ' ', w[i+3]) AS s
        |  FROM (SELECT source, w, unnest(range(0, len(w) - 2)) AS i
        |        FROM tok WHERE len(w) >= 3)),
        |sz AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
        |pp AS (SELECT a.source AS src_a, CAST(a.n AS BIGINT) AS n_a,
        |              b.source AS src_b, CAST(b.n AS BIGINT) AS n_b
        |       FROM sz a, sz b WHERE a.source < b.source),
        |iv AS (SELECT x.source AS sa, y.source AS sb,
        |              COUNT(*) AS n_both
        |       FROM sh x JOIN sh y ON x.s = y.s AND x.source < y.source
        |       GROUP BY 1, 2)
        |SELECT src_a, src_b, n_a, n_b,
        |  CAST(COALESCE(iv.n_both, 0) AS BIGINT) AS n_both,
        |  CAST((2 * (COALESCE(iv.n_both, 0) * 10000)
        |        + (n_a + n_b - COALESCE(iv.n_both, 0)))
        |       // (2 * (n_a + n_b - COALESCE(iv.n_both, 0)))
        |    AS DOUBLE) / 10000.0 AS jaccard
        |FROM pp LEFT JOIN iv ON iv.sa = pp.src_a AND iv.sb = pp.src_b
        |ORDER BY src_a, src_b""".stripMargin),

    Q(
      // Pearson chi-square independence test over the lang × source
      // contingency table — "is the language mix the same across
      // sources?", the statistical gate behind every mixture-drift
      // alarm. EMPTY cells are included (full row×col grid left-joins
      // the observed counts — a combo that never occurs still
      // contributes (0−e)²/e; dropping them understates χ²).
      // Determinism: observed/marginal counts are exact longs; each
      // cell's term is ONE fixed-shape double expression quantized to
      // 1e-6 integer units, and the cross-cell reduction sums those
      // longs — order-independent. Scale shape: one corpus hash-agg to
      // |cells| rows; the grid, marginals, and scalar N are all
      // cell-count-sized and broadcast.
      "q_stats_chisq",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("lang"), col("source"))
        val o = docs.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o"))
        val r = o.groupBy(col("lang")).agg(sum(col("o")).as("r"))
        val c = o.groupBy(col("source")).agg(sum(col("o")).as("c"))
        val n = docs.agg(count(lit(1)).as("n"))
        val grid = broadcast(r).crossJoin(broadcast(c))
          .join(o, Seq("lang", "source"), "left")
          .withColumn("obs", coalesce(col("o"), lit(0L)))
          .crossJoin(broadcast(n))
          .withColumn("e", col("r").cast("double") * col("c") / col("n"))
          .withColumn("tq",
            round((col("obs") - col("e")) * (col("obs") - col("e")) /
                  col("e") * 1000000).cast("long"))
        grid.agg(max(col("n")).as("n_docs"),
                 countDistinct(col("lang")).as("n_lang"),
                 countDistinct(col("source")).as("n_source"),
                 sum(col("tq")).as("_sq"))
          .select(col("n_docs"), col("n_lang"), col("n_source"),
                  ((col("n_lang") - 1) * (col("n_source") - 1)).as("dof"),
                  (col("_sq").cast("double") / 1000000.0).as("chi2"))
      },
      """WITH o AS (
        |  SELECT lang, source, COUNT(*) AS o
        |  FROM documents GROUP BY lang, source),
        |r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r
        |      FROM o GROUP BY lang),
        |c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c
        |      FROM o GROUP BY source),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |x AS (
        |  SELECT g.lang, g.source, COALESCE(o.o, 0) AS obs, g.r, g.c
        |  FROM (SELECT r.lang, c.source, r.r, c.c
        |        FROM r CROSS JOIN c) g
        |  LEFT JOIN o ON o.lang = g.lang AND o.source = g.source),
        |t AS (
        |  SELECT obs,
        |    CAST(r AS DOUBLE) * c / n.n AS e,
        |    x.lang, x.source
        |  FROM x CROSS JOIN n),
        |q AS (
        |  SELECT lang, source,
        |    CAST(round((obs - e) * (obs - e) / e * 1000000) AS BIGINT)
        |      AS tq
        |  FROM t)
        |SELECT (SELECT n FROM n) AS n_docs,
        |  COUNT(DISTINCT lang) AS n_lang,
        |  COUNT(DISTINCT source) AS n_source,
        |  (COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
        |    AS dof,
        |  CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1000000.0 AS chi2
        |FROM q""".stripMargin),

    Q(
      // Class-balanced downsample (api.Pipeline.sampleBalanced): every
      // language keeps exactly min-class-size docs, chosen by the
      // sampleExactK md5 order with a DATA-DEPENDENT k (the smallest
      // class's count broadcast from a 1-row agg) — the majority-class
      // downsampling step of imbalanced-training prep. The declared
      // output rolls kept rows up per class WITH an id_sum checksum, so
      // the oracle hash proves both engines kept the IDENTICAL row set,
      // not merely equal counts.
      "q_sample_balanced",
      (s, d) => Pipeline.sampleBalanced(
          Tables.documents(s, d), col("lang"), col("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
             sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang")),
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |    AS rn
        |  FROM documents),
        |k AS (
        |  SELECT MIN(c) AS k FROM (
        |    SELECT COUNT(*) AS c FROM documents GROUP BY lang)),
        |kept AS (
        |  SELECT lang, doc_id FROM t CROSS JOIN k WHERE t.rn <= k.k)
        |SELECT lang, COUNT(*) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // Systematic 1-in-7 sampling: rank docs per language by the md5
      // order, keep every 7th — the sampling-theory sibling of
      // sampleExactK (guaranteed even coverage of the hash-ordered
      // frame; Bernoulli sampling's keep-count varies, systematic's is
      // exactly ⌈n/7⌉). Deterministic and replayable; the id_sum
      // checksum makes the oracle hash prove the identical row SET.
      "q_sample_systematic",
      (s, d) => {
        val h = md5(col("doc_id").cast("string"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(h.asc, col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(pmod(col("rn"), lit(7)) === 1)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
               sum(col("doc_id")).as("id_sum"))
          .orderBy(col("lang"))
      },
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |    AS rn
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM t WHERE rn % 7 = 1
        |GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // Cross-source QUANTILE NORMALIZATION of doc length: map each
      // doc's within-source rank onto the GLOBAL length distribution
      // (norm = global value at rank ⌈rank·N/n_src⌉ — the type-1
      // inverse-CDF), so per-source length-quality gates stop encoding
      // collection bias — the batch-effect correction step before
      // mixing heterogeneous crawls. All-integer: ranks are
      // row_number with doc_id tie-break, the target rank is one
      // ceiling division, and the report sums raw/normalized chars as
      // BIGINT.
      // Scale shape: NO global per-doc sort — the global distribution
      // collapses to |distinct n_chars| blocks (one hash-agg + a
      // window over blocks), each doc computes its target rank
      // map-side, and a BROADCAST range join (cumb < tr ≤ cum) reads
      // the quantile value off the block table. The only corpus-wide
      // window partitions by source (the per-source rank), never one
      // global partition.
      "q_curate_quantile_norm",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val n = docs.agg(count(lit(1)).as("_N"))
        val blocks = docs.groupBy(col("n_chars").as("v"))
          .agg(count(lit(1)).as("_c"))
        val wb = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cdf = blocks
          .withColumn("cum", sum(col("_c")).over(wb))
          .withColumn("cumb", col("cum") - col("_c"))
          .select(col("v"), col("cum"), col("cumb"))
        val ws = Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))
        val nsrc = Window.partitionBy(col("source"))
        val ranked = docs
          .withColumn("rk", row_number().over(ws).cast("long"))
          .withColumn("ns", count(lit(1)).over(nsrc))
          .crossJoin(broadcast(n))
          // true integral division (SQL `div`): Column `/` is DOUBLE
          // division, whose 2^53 mantissa wraps rk·N long before the
          // long range does
          .withColumn("tr", expr("(rk * _N + ns - 1) div ns"))
        ranked.join(broadcast(cdf),
                    col("tr") > col("cumb") && col("tr") <= col("cum"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_chars")).as("raw_chars"),
               sum(col("v")).as("norm_chars"),
               min(col("v")).as("norm_min"),
               max(col("v")).as("norm_max"))
          .orderBy(col("source"))
      },
      """WITH docs AS (
        |  SELECT doc_id, source, n_chars FROM documents),
        |nn AS (SELECT COUNT(*) AS N FROM docs),
        |cdf AS (
        |  SELECT v, cum, cum - c AS cumb FROM (
        |    SELECT n_chars AS v, COUNT(*) AS c,
        |      SUM(COUNT(*)) OVER (ORDER BY n_chars) AS cum
        |    FROM docs GROUP BY n_chars)),
        |ranked AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS ns
        |  FROM docs),
        |tr AS (
        |  SELECT source, n_chars,
        |    (rk * nn.N + ns - 1) // ns AS tr
        |  FROM ranked CROSS JOIN nn)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS raw_chars,
        |  CAST(SUM(cdf.v) AS BIGINT) AS norm_chars,
        |  CAST(MIN(cdf.v) AS BIGINT) AS norm_min,
        |  CAST(MAX(cdf.v) AS BIGINT) AS norm_max
        |FROM tr JOIN cdf ON tr.tr > cdf.cumb AND tr.tr <= cdf.cum
        |GROUP BY source ORDER BY source""".stripMargin),

    Q(
      // THE one-page PER-LANGUAGE CORPUS REPORT — five operator
      // families composed into one plan and one oracle hash: token
      // volume (the shared tokenizer), quality-gate pass rate
      // (api.Text.qualityGate), exact-dup incidence (text-identity
      // count), benchmark contamination (api.Pipeline.contaminated,
      // 7-gram vs the src0 slice), and cross-doc duplication mass
      // (api.Dedup.coveredTokenMass, union-merged spans) — the table
      // a corpus owner actually reads before a training run, and the
      // widest single integration proof in the suite (q_curate_funnel
      // composes stages sequentially; this composes FAMILIES
      // side-by-side per stratum). Everything integer; two ratios
      // through intRatio4.
      // Scale shape: each family keeps its own pinned shape (hash-agg
      // / semi-join / islands windows); the report join fans doc-id
      // keyed flags into ONE per-doc frame then collapses to |langs|.
      "q_curate_corpus_report",
      (s, d) => {
        val all = Tables.documents(s, d)
        val corpus = all.filter(col("source") =!= "src0")
        val bench = all.filter(col("source") === "src0")
        val g = graft.api.Text.qualityGate(
          corpus.select(col("doc_id"), col("lang"), col("text")),
          col("text"))
        val ex = corpus.groupBy(col("text"))
          .agg(count(lit(1)).as("_ct"))
          .filter(col("_ct") >= 2).select(col("text").as("_dtext"))
        val contam = graft.api.Pipeline.contaminated(
            corpus, bench, col("doc_id"), col("text"), 7)
          .select(col("doc_id").as("_cid"))
        val mass = graft.api.Dedup.coveredTokenMass(
            corpus, col("doc_id"), col("text"), 7)
          .select(col("doc").as("_mid"), col("covered_tokens"))
        g.join(ex, g("text") === col("_dtext"), "left")
          .join(contam, col("doc_id") === col("_cid"), "left")
          .join(mass, col("doc_id") === col("_mid"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_words")).as("n_tokens"),
               sum(col("pass").cast("long")).as("_npass"),
               sum(when(col("_dtext").isNotNull, 1L).otherwise(0L))
                 .as("n_exact_dup"),
               sum(when(col("_cid").isNotNull, 1L).otherwise(0L))
                 .as("n_contaminated"),
               coalesce(sum(col("covered_tokens")), lit(0L))
                 .as("_cov"))
          .select(col("lang"), col("n_docs"), col("n_tokens"),
                  intRatio4(col("_npass") * 10000L, col("n_docs"))
                    .as("pass_rate4"),
                  col("n_exact_dup"), col("n_contaminated"),
                  intRatio4(col("_cov") * 10000L, col("n_tokens"))
                    .as("dup_frac4"))
          .orderBy(col("lang"))
      },
      s"""WITH corp AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE source <> 'src0'),
        |f AS (SELECT doc_id, lang, text, ${toksSql("text")} AS w
        |      FROM corp),
        |m AS (
        |  SELECT doc_id, lang, text, len(w) AS n_words,
        |    CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
        |      / len(w) AS mean_wl,
        |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a'))
        |         AS DOUBLE) / len(w) AS stop_frac,
        |    CASE WHEN len(w) >= 2 THEN
        |      1.0 - CAST(len(list_distinct(list_transform(
        |        range(0, len(w) - 1),
        |        i -> concat(w[i+1], ' ', w[i+2])))) AS DOUBLE)
        |        / (len(w) - 1)
        |    ELSE 0.0 END AS dup2
        |  FROM f),
        |q AS (
        |  SELECT doc_id, lang, text,
        |    CAST(n_words AS BIGINT) AS n_words,
        |    ((n_words BETWEEN 20 AND 90) AND mean_wl >= 4.0
        |     AND mean_wl <= 5.0 AND stop_frac >= 0.01
        |     AND dup2 <= 0.06) AS pass
        |  FROM m),
        |ex AS (SELECT text FROM corp GROUP BY text
        |       HAVING COUNT(*) >= 2),
        |ctok AS (
        |  SELECT doc_id, source, ${toksSql("text")} AS w
        |  FROM documents),
        |csh AS (
        |  SELECT DISTINCT doc_id, source,
        |    concat(w[i+1], ' ', w[i+2], ' ', w[i+3], ' ', w[i+4], ' ',
        |           w[i+5], ' ', w[i+6], ' ', w[i+7]) AS g
        |  FROM (SELECT doc_id, source, w,
        |          unnest(range(0, len(w) - 6)) AS i
        |        FROM ctok WHERE len(w) >= 7)),
        |contam AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM csh c WHERE c.source <> 'src0'
        |    AND EXISTS (SELECT 1 FROM csh b
        |                WHERE b.source = 'src0' AND b.g = c.g)),
        |cpos AS (
        |  SELECT doc_id, unnest(range(0, len(w) - 6)) AS p, w
        |  FROM f WHERE len(w) >= 7),
        |msh AS (
        |  SELECT doc_id, p,
        |    concat_ws(' ', w[p+1], w[p+2], w[p+3], w[p+4], w[p+5],
        |              w[p+6], w[p+7]) AS g
        |  FROM cpos),
        |mshared AS (
        |  SELECT g FROM msh GROUP BY g
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |mcov AS (
        |  SELECT doc_id, p FROM msh
        |  WHERE g IN (SELECT g FROM mshared)),
        |mfl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
        |                               ORDER BY p) > 7
        |         THEN 1 ELSE 0 END AS nw
        |  FROM mcov),
        |misl AS (
        |  SELECT doc_id, p,
        |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY p
        |                  ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND CURRENT ROW) AS grp
        |  FROM mfl),
        |miv AS (
        |  SELECT doc_id, MIN(p) AS s0, MAX(p) AS e0
        |  FROM misl GROUP BY doc_id, grp),
        |massc AS (
        |  SELECT doc_id,
        |    CAST(SUM(e0 - s0 + 7) AS BIGINT) AS covered
        |  FROM miv GROUP BY doc_id),
        |rg AS (
        |  SELECT q.lang, COUNT(*) AS n_docs,
        |    SUM(q.n_words) AS n_tokens,
        |    SUM(CASE WHEN q.pass THEN 1 ELSE 0 END) AS npass,
        |    SUM(CASE WHEN q.text IN (SELECT text FROM ex)
        |        THEN 1 ELSE 0 END) AS n_exact_dup,
        |    SUM(CASE WHEN q.doc_id IN (SELECT doc_id FROM contam)
        |        THEN 1 ELSE 0 END) AS n_contaminated,
        |    COALESCE(SUM(mc.covered), 0) AS cov
        |  FROM q LEFT JOIN massc mc ON q.doc_id = mc.doc_id
        |  GROUP BY q.lang)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST((2 * (npass * 10000) + n_docs) // (2 * n_docs)
        |       AS DOUBLE) / 10000.0 AS pass_rate4,
        |  CAST(n_exact_dup AS BIGINT) AS n_exact_dup,
        |  CAST(n_contaminated AS BIGINT) AS n_contaminated,
        |  CAST((2 * (cov * 10000) + n_tokens) // (2 * n_tokens)
        |       AS DOUBLE) / 10000.0 AS dup_frac4
        |FROM rg ORDER BY lang""".stripMargin),

    Q(
      // NEYMAN optimal allocation of a fixed eval-sample budget
      // (n=1000) across event-type strata: n_h ∝ N_h·σ_h — the
      // textbook survey-sampling allocation that beats proportional
      // sampling whenever stratum variances differ (sample MORE where
      // the metric is noisier). σ from exact anchored integer
      // moments; fractional allocations resolve by LARGEST REMAINDER
      // with (frac DESC, stratum ASC) rank so Σalloc = budget EXACTLY
      // and ties break identically cross-engine; every multi-row sum
      // of doubles runs over the SAME ordered 5-row window frame on
      // both engines (float sums are order-dependent).
      // Scale shape: one anchor pass + one hash-agg to k strata; all
      // allocation math on the k-row frame.
      "q_sample_neyman",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val budget = 1000L
        val e = Tables.events(s, d)
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val anchors = e.groupBy(col("event_type"))
          .agg(min(col("vc")).as("a"))
          .select(col("event_type").as("t1"), col("a"))
        val dd = (col("vc") - col("a")).cast(D38)
        val st = e.join(broadcast(anchors), col("event_type") === col("t1"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("nh"),
               sum(dd).cast("double").as("sv"),
               sum(dd * dd).cast("double").as("s2"))
          .withColumn("sd",
            sqrt(greatest((col("s2") - col("sv") * col("sv") /
                             col("nh")) / (col("nh") - 1), lit(0.0))))
          .withColumn("w", col("nh").cast("double") * col("sd"))
        val wAll = Window.orderBy(col("event_type"))
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
        val alloc0 = st
          .withColumn("tw", sum(col("w")).over(wAll))
          .withColumn("a0", lit(budget.toDouble) * col("w") / col("tw"))
          .withColumn("base", floor(col("a0")).cast("long"))
          .withColumn("frac", col("a0") - floor(col("a0")))
          .withColumn("tb", sum(col("base")).over(wAll))
        val wr = Window.orderBy(col("frac").desc, col("event_type"))
        alloc0.withColumn("rn", row_number().over(wr))
          .select(col("event_type"), col("nh"),
                  r4(col("sd") / 100.0).as("sd4"),
                  (col("base") +
                   when(col("rn") <= lit(budget) - col("tb"), 1L)
                     .otherwise(0L)).as("alloc"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |an AS (SELECT event_type, MIN(vc) AS a FROM e
        |       GROUP BY event_type),
        |st AS (
        |  SELECT e.event_type, COUNT(*) AS nh,
        |    sqrt(greatest(
        |      (CAST(SUM(CAST(vc - a AS HUGEINT) * (vc - a)) AS DOUBLE)
        |       - CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE)
        |         * CAST(SUM(CAST(vc - a AS HUGEINT)) AS DOUBLE)
        |         / COUNT(*))
        |      / (COUNT(*) - 1), 0.0)) AS sd
        |  FROM e JOIN an USING (event_type)
        |  GROUP BY e.event_type),
        |w AS (
        |  SELECT event_type, nh, sd,
        |    CAST(nh AS DOUBLE) * sd AS w,
        |    SUM(CAST(nh AS DOUBLE) * sd) OVER wa AS tw
        |  FROM st
        |  WINDOW wa AS (ORDER BY event_type
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                AND UNBOUNDED FOLLOWING)),
        |a0 AS (
        |  SELECT event_type, nh, sd,
        |    1000.0 * w / tw AS a0,
        |    CAST(floor(1000.0 * w / tw) AS BIGINT) AS base,
        |    1000.0 * w / tw - floor(1000.0 * w / tw) AS frac
        |  FROM w),
        |a1 AS (
        |  SELECT event_type, nh, sd, base, frac,
        |    SUM(base) OVER wa AS tb,
        |    row_number() OVER (ORDER BY frac DESC, event_type ASC)
        |      AS rn
        |  FROM a0
        |  WINDOW wa AS (ORDER BY event_type
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                AND UNBOUNDED FOLLOWING))
        |SELECT event_type, nh,
        |  round(sd / 100.0, 4) + 0 AS sd4,
        |  base + CASE WHEN rn <= 1000 - tb THEN 1 ELSE 0 END AS alloc
        |FROM a1 ORDER BY event_type""".stripMargin)
  )
}
