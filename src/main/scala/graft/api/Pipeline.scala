package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, parameterized training-data pipeline API — the reusable form
  * of the `q_*` operators in `graft.ops.PipelineOps`, which delegate
  * here (so the DuckDB oracle gate verifies THIS code on every run).
  * All operators are pure DataFrame transforms: no actions, no state,
  * distributed by construction.
  *
  * Determinism contract: anything that "samples" derives its randomness
  * from `hash16` (an md5 slice) — the same row always makes the same
  * decision, on any cluster size, on every rerun. No `rand()`.
  */
object Pipeline {

  /** Uniform 16-bit content hash in [0, 65536): first 4 hex digits of
    * md5(string(c)). Engine-portable (md5 is bit-identical everywhere)
    * and cheap enough for the scan projection. A null id hashes as the
    * empty string — it gets a deterministic (kept/assigned) decision
    * like any other value, so sampleStratified and splitAssign treat
    * null ids identically instead of one silently dropping them. */
  def hash16(c: Column): Column =
    conv(substring(md5(coalesce(c.cast("string"), lit(""))), 1, 4), 16, 10)
      .cast("int")

  /** Production variant of [[hash16]]: xxhash64 (codegen'd, ~5× md5's
    * throughput) folded to the same [0, 65536) range. NOT cross-engine
    * portable (xxhash64 seeds/variants differ per engine) — use once
    * external verification is retired; decisions differ from hash16's
    * but have the same uniformity and determinism guarantees. */
  def hash16Fast(c: Column): Column =
    pmod(xxhash64(coalesce(c.cast("string"), lit(""))), lit(65536L))
      .cast("int")

  /** 32-bit sibling of [[hash16]] (first 8 hex digits of md5) — the
    * resolution [[approxDistinctKMV]] needs: with only 2^16 buckets,
    * hash collisions would floor the measurable distinct count at 65536;
    * 2^32 pushes the birthday bound past any per-group cardinality the
    * estimator is pointed at. Same null contract as hash16. */
  def hash32(c: Column): Column =
    conv(substring(md5(coalesce(c.cast("string"), lit(""))), 1, 8), 16, 10)
      .cast("bigint")

  /** Deterministic stratified sampling: keep a row iff
    * hash16(id) < 65536 * weight(stratum). `weights` maps stratum value
    * → keep probability; unlisted strata use `default`. Map-side only —
    * zero shuffle — and replayable. */
  def sampleStratified(
      df: DataFrame, stratum: Column, id: Column,
      weights: Map[String, Double], default: Double,
      hasher: Column => Column = hash16): DataFrame = {
    val thr = weights.foldLeft(lit((default * 65536).toInt)) {
      case (acc, (k, w)) =>
        when(stratum === k, lit((w * 65536).toInt)).otherwise(acc)
    }
    df.filter(hasher(id) < thr)
  }

  /** Deterministic WEIGHT-PROPORTIONAL Bernoulli sampling: keep a row
    * with probability weight/max(weight) — e.g. length-proportional
    * document sampling, where the kept set's token mass tracks the
    * corpus's. The keep test is the integer cross-multiplication
    * `hash16(id) * wmax < 65536 * weight` (exact in int64 for any
    * weight < 2^47), so decisions are replayable on any cluster size
    * and an external engine can replay them bit-for-bit. The max is a
    * one-row broadcast — the scan stays map-side, zero data shuffle. */
  def sampleWeighted(
      df: DataFrame, weight: Column, id: Column,
      hasher: Column => Column = hash16): DataFrame = {
    val wmax = df.agg(max(weight.cast("long")).as("__graft_wmax"))
    df.crossJoin(broadcast(wmax))
      .filter(hasher(id).cast("long") * col("__graft_wmax") <
              lit(65536L) * weight.cast("long"))
      .drop("__graft_wmax")
  }

  /** 2-D Pareto frontier (skyline): the points not dominated under
    * (minimize x, maximize y) — multi-objective data selection (e.g.
    * cheapest-per-capability, shortest-per-quality). Returns the
    * frontier's distinct (x, y) points as columns ("x", "y").
    *
    * Distributed as a PREFIX-MAX SCAN, never the naive all-pairs
    * dominance join: (1) group-reduce to one max-y point per x —
    * cardinality drops to |x domain|; (2) bucket x by `bucketWidth`
    * and run the running-max window PER BUCKET (parallel); (3) the
    * cross-bucket prefix is carried by a cumulative max over the
    * per-bucket maxima — a single-partition window over only
    * |buckets| rows, broadcast back. A point survives iff its y beats
    * both the in-bucket prefix and every lower bucket's max. The only
    * sequential structure is the tiny bucket list: the 100 TB shape. */
  def paretoFrontier2D(
      df: DataFrame, x: Column, y: Column,
      bucketWidth: Long = 1024L): DataFrame = {
    require(bucketWidth > 0, "paretoFrontier2D: bucketWidth must be > 0")
    val pts = df.groupBy(x.cast("long").as("x"))
      .agg(max(y.cast("long")).as("y"))
      // integral `div`, not floor(x / w): double division drifts past
      // 2^53. div truncates toward zero (≠ floor for negative x) but
      // bucketing only needs a MONOTONE step function of x, which
      // truncation is — the prefix logic is unaffected.
      .withColumn("__b", expr(s"x div ${bucketWidth}L"))
    val wLocal = Window.partitionBy(col("__b")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketMax = pts.groupBy(col("__b")).agg(max(col("y")).as("__bmax"))
    val wCum = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = bucketMax.select(col("__b"),
      max(col("__bmax")).over(wCum).as("__cmax"))
    pts.withColumn("__lmax", max(col("y")).over(wLocal))
      .join(broadcast(cum), Seq("__b"))
      .filter(col("y") > greatest(
        coalesce(col("__lmax"), lit(Long.MinValue)),
        coalesce(col("__cmax"), lit(Long.MinValue))))
      .select(col("x"), col("y"))
  }

  /** Token-budget mixture planning — the data-mixing math run BEFORE
    * training: given per-row token counts, a target mixture weight per
    * stratum, and a total token budget, compute the per-stratum keep
    * RATE that hits `budget × weight` tokens, capped at 1.0 (a stratum
    * cannot contribute more than it has — the standard up-to-weight
    * semantics; re-normalize weights upstream if you need the shortfall
    * redistributed). The output rates feed [[sampleStratified]]
    * directly. rate is round(…, 4) so the plan is engine-portable;
    * kept_toks is the floor estimate under that rounded rate. One
    * hash-agg; the weight table is a broadcast literal. Returns
    * (stratum, toks, rate, kept_toks) for strata listed in `weights`. */
  def mixRates(
      df: DataFrame, stratum: Column, tokens: Column,
      weights: Map[String, Double], budget: Long): DataFrame = {
    require(budget > 0, "mixRates: budget must be > 0")
    require(weights.nonEmpty, "mixRates: weights must be non-empty")
    val spark = df.sparkSession
    val w = spark.createDataFrame(weights.toSeq.sortBy(_._1))
      .toDF("_s", "_wt")
    val rate = round(least(lit(1.0),
      lit(budget.toDouble) * col("_wt") / col("toks")), 4)
    df.select(stratum.as("stratum"), tokens.as("_n"))
      .groupBy(col("stratum"))
      .agg(sum(col("_n")).cast("bigint").as("toks"))
      .join(broadcast(w), col("stratum") === col("_s"))
      .withColumn("rate", rate)
      .select(col("stratum"), col("toks"), col("rate"),
              floor(col("toks") * col("rate")).cast("bigint")
                .as("kept_toks"))
  }

  /** Deterministic split assignment over `buckets` hash buckets:
    * `assignments` maps bucket index → split name; unmapped buckets get
    * `defaultSplit`. 90/5/5 = buckets=20, {0→"test", 1→"val"},
    * default "train". Adds column `split`. */
  def splitAssign(
      df: DataFrame, id: Column, buckets: Int,
      assignments: Map[Int, String], defaultSplit: String): DataFrame = {
    val m = hash16(id) % buckets
    val split = assignments.foldLeft(lit(defaultSplit)) {
      case (acc, (b, name)) => when(m === b, lit(name)).otherwise(acc)
    }
    df.withColumn("split", split)
  }

  /** Corpus TF-IDF: top-`k` terms per group (e.g. language) ranked by
    * tf(group, term) · ln(N / df(term)), ties broken by term. Output:
    * (group, term, tf, df, score, rn). One explode, two hash-aggs; the
    * per-term df and scalar N broadcast back — no per-doc-pair work. */
  def tfidfTopTerms(
      df: DataFrame, id: Column, group: Column, text: Column,
      k: Int): DataFrame = {
    val tokens = df.select(
      id.as("_id"), group.as("grp"),
      explode(split(text, " ")).as("term"))
    val tf = tokens.groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tokens.select(col("_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("grp"), col("term"), col("tf"), col("df"),
              col("score"), col("rn"))
  }

  /** BM25 retrieval scoring of `terms` over a corpus; returns the
    * top-`k` (id, score) rows via TakeOrderedAndProject (per-partition
    * heaps — no global sort, no single-partition window). */
  def bm25TopDocs(
      df: DataFrame, id: Column, text: Column, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = df.select(id.as("_id"), split(text, " ").as("w"))
      .select(col("_id"), col("w"), size(col("w")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
                         sum(col("dl")).as("sum_dl"))
    val tf = docs
      .select(col("_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5)
          / (col("df") + 0.5)))
      .withColumn("part",
        col("idf") * (col("tf") * (k1 + 1.0))
          / (col("tf") + lit(k1) *
              (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("_id"))
      .agg(round(sum(col("part")), 4).as("score"))
      .select(col("_id"), col("score"))
      .orderBy(col("score").desc, col("_id").asc).limit(k)
  }

  /** Token-budget sequence packing: rows stream into bins in `order`
    * order within each `group` partition; bin id = running-total offset
    * div `budget` (deterministic integer math). Adds columns
    * (tok already present as `tokens`) `bin`. */
  def packBins(
      df: DataFrame, group: Column, order: Column, tokens: Column,
      budget: Int): DataFrame = {
    val w = Window.partitionBy(group).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(tokens).over(w))
      // integer floor-div (offsets are non-negative, well under 2^53)
      .withColumn("bin", floor((col("_cum") - tokens) / budget).cast("bigint"))
      .drop("_cum")
  }

  /** Benchmark-contamination detection: rows of `corpus` that share at
    * least one distinct word-`n`-gram with `benchmark`. LEFT SEMI join
    * against the (broadcast) benchmark shingle set — candidates never
    * fan out into pairs, and only (id, shingle) rows ever shuffle (the
    * wide text column stays out of the exchange); contaminated ids then
    * semi-join back to the original corpus rows. Real web-scale
    * decontamination runs n=13; pick n by corpus shingle selectivity.
    *
    * NOTE the generator discipline (SCALE.md, measured 10×): shingling
    * uses explode_OUTER + an explicit null filter so
    * InferFiltersFromGenerate can't inline the shingle expression into
    * the scan filter three times. */
  def contaminated(
      corpus: DataFrame, benchmark: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    val bench = idShingles(benchmark, id, text, n).select(col("g"))
    val ids = idShingles(corpus, id, text, n)
      .join(broadcast(bench), Seq("g"), "left_semi")
      .select(col("_id")).distinct()
    corpus.join(ids, id === col("_id"), "left_semi")
  }

  /** Approximate distinct count per group via the KMV sketch
    * (`functions.KmvKth`): one hash-agg whose per-group state is the
    * ≤ `k` smallest distinct [[hash32]] values — duplicates dedup INSIDE
    * the sketch, so raw rows stream in with NO distinct pre-shuffle, and
    * only ≤ k longs per group cross the exchange. Returns
    * (group, est_distinct DOUBLE): exact while a group has < k distinct
    * values, else the classic (k−1)/u(k) estimate (rel. error ≈ 1/√(k−2)).
    *
    * Fully deterministic AND cross-engine checkable — the k smallest
    * distinct hashes are a function of the input set, not the partition
    * or merge order (contrast `approx_count_distinct`, whose HLL
    * registers are engine-private). Estimate rounded to 4 dp (R3). */
  def approxDistinctKMV(
      df: DataFrame, group: Column, value: Column, k: Int): DataFrame = {
    df.groupBy(group.as("g"))
      .agg(call_function("kmv_kth", hash32(value), lit(k)).as("s"))
      .select(col("g"),
        when(col("s.n") < k, col("s.n").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) /
                           (col("s.kth").cast("double") / lit(4294967296.0)), 4)
                     + lit(0.0))
          .as("est_distinct"))
  }

  /** (_id, g) word-`n`-gram shingles of `src` — the shared generator of
    * [[contaminated]]/[[contaminatedBloom]] (explode_outer + null filter
    * per the generator discipline above). */
  private def idShingles(
      src: DataFrame, id: Column, text: Column, n: Int): DataFrame = src
    .select(id.as("_id"), Dedup.tokens(text).as("w"))
    .filter(size(col("w")) >= n)
    .select(col("_id"),
            explode_outer(expr(Dedup.shingleExpr(n))).as("g"))
    .filter(col("g").isNotNull)

  /** [[contaminated]] with a bloom-filter prefilter — IDENTICAL output
    * (the bloom has no false negatives and an exact confirm join removes
    * its false positives), different 100 TB cost: the corpus's shingles
    * are probed against one ~MB binary IN THE SCAN STAGE, so only the
    * ~fpp false-positive fraction plus true hits ever reaches the
    * confirm join — instead of every (id, shingle) row flowing into a
    * join against the broadcast set. This is the same semi-join-pushdown
    * shape Spark's runtime row-level filtering injects inside ONE query,
    * applied explicitly so it works across pipeline stages (build the
    * blob once, probe it in every ingest batch).
    *
    * `expectedItems` sizes the filter (Spark's default fpp 3%); the
    * build side collects to ONE binary on the driver — the explicit twin
    * of a runtime-filter subquery broadcast, fine at any corpus scale
    * because it depends only on the BENCHMARK's shingle count. */
  /** Per-group KMV sketch as ROWS: the k smallest distinct 32-bit
    * value hashes per group — the mergeable representation behind
    * [[approxDistinctKMV]], exposed because sketch SET ALGEBRA needs
    * it: the k-min set of A∪B is exactly recoverable from
    * k-min(A) ∪ k-min(B) (k-min(A∪B) ⊆ the union of the two sets),
    * so union/intersection estimates between groups touch ≤ k rows
    * per group, never the corpora. Returns (g, hv, rn) with rn ≤ k.
    * The oracle-replayable relational form; the engine-native
    * single-pass form is `functions.KmvKth`. */
  def kmvSketch(
      df: DataFrame, group: Column, value: Column, k: Int): DataFrame = {
    require(k >= 2, s"kmvSketch: k must be >= 2, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("hv"))
    df.select(group.as("g"), hash32(value).as("hv")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  def contaminatedBloom(
      corpus: DataFrame, benchmark: DataFrame, id: Column, text: Column,
      n: Int, expectedItems: Long = 1000000L): DataFrame = {
    val bench = idShingles(benchmark, id, text, n).select(col("g"))
    val blob = bench
      .agg(call_function("bloom_agg", xxhash64(col("g")),
                         lit(expectedItems)).as("b"))
      .head().getAs[Array[Byte]]("b")
    if (blob == null) corpus.filter(lit(false)) // empty benchmark
    else {
      val ids = idShingles(corpus, id, text, n)
        .filter(call_function("bloom_might_contain",
                              lit(blob), xxhash64(col("g"))))
        .join(broadcast(bench), Seq("g"), "left_semi")
        .select(col("_id")).distinct()
      corpus.join(ids, id === col("_id"), "left_semi")
    }
  }

  /** Temperature-scaled mixture shares (the multilingual-corpus
    * rebalancing rule: sampling weight ∝ p^(1/T), T > 1 upsamples the
    * tail — mT5/XLM-R style). Returns one row per group value:
    * (grp, n, share, target) where share is the scale-4 exact mixture
    * share and target = ⌊budget · w / Σw⌋ rows to draw.
    *
    * Determinism: only T = 2 is engine-exact — p^(1/2) routes through
    * IEEE `sqrt` (correctly rounded everywhere), each weight is then
    * FLOORED to an integer in 1e-6 units, and both the share and the
    * target derive from integer ratios of those quantized weights
    * (share via Determinism.intRatio4's half-up integral division, so
    * Σshare deviates from 1 only by visible rounding). A general T
    * would need `pow`, which is NOT correctly rounded and may differ in
    * the last bit across engines — callers wanting other temperatures
    * accept that (hence the fixed-T signature here).
    *
    * Scale: one hash-agg over the corpus, then arithmetic on a
    * |groups|-row frame against two broadcast one-row totals. */
  def temperatureMixT2(
      df: DataFrame, group: Column, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    // totals carry distinct names: Spark resolves case-INsensitively by
    // default, so an `N` total next to the per-group `n` is ambiguous
    val counts = df.groupBy(group.as("grp")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("_tot"))
    val weighted = counts.crossJoin(broadcast(tot))
      .withColumn("wq",
        floor(sqrt(col("n").cast("double") / col("_tot")) * 1e6)
          .cast("long"))
    val wsum = weighted.agg(sum(col("wq")).as("_wtot"))
    weighted.crossJoin(broadcast(wsum))
      .select(col("grp"), col("n"),
              graft.Determinism.intRatio4(col("wq") * 10000, col("_wtot"))
                .as("share"),
              expr(s"(${budget}L * wq) div _wtot").as("target"))
  }

  /** Deterministic exact-k-per-stratum sample: the k rows of each
    * stratum with the smallest md5(id) — a fixed-SIZE eval set per
    * group (vs [[sampleStratified]]'s fixed RATE). Adds `rn` (1..k
    * within the stratum). Content-addressed: the same k rows are chosen
    * on any cluster size, any partitioning, every rerun; growing the
    * corpus only swaps rows whose hash order changes, it never
    * reshuffles the whole selection (the reservoir-sampling guarantee,
    * without coordination). One shuffle on `stratum`; the per-stratum
    * sort is the standard top-k window (rank pushes down to a partial
    * top-k per partition under AQE). */
  def sampleExactK(
      df: DataFrame, stratum: Column, id: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val h = md5(coalesce(id.cast("string"), lit("")))
    val w = Window.partitionBy(stratum).orderBy(h.asc, id.asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Water-filling budget allocation (max-min fairness), exact in
    * integers: spend T = Σweight · budgetNum div budgetDen across
    * groups by filling every group up to a common water level λ
    * (small groups kept whole), k* = the max sorted prefix that fills
    * completely, λ = (T − cum_k*) div (n − k*), and the mod remainder
    * distributed +1 each to the first rem unfilled groups in group
    * order — Σalloc = T to the unit, replayable anywhere. The
    * canonical "no source dominates the mix" split for token-budgeted
    * data mixing. Negative-quotient candidates can never pass the
    * validity test (weight ≥ 1), so truncating vs flooring integer
    * division agree on every comparison that matters. Returns
    * (_g, avail, alloc). Scale: one hash-agg collapses the corpus to
    * |groups| rows; all allocation math runs on that domain. */
  def waterfill(df: DataFrame, grp: Column, weight: Column,
                budgetNum: Long = 1L, budgetDen: Long = 2L): DataFrame = {
    require(budgetNum >= 0 && budgetDen >= 1,
      "waterfill: budgetNum >= 0 and budgetDen >= 1")
    val src = df.groupBy(grp.as("_g")).agg(sum(weight).as("avail"))
    val tot = src.agg(sum(col("avail")).as("_tot"),
                      count(lit(1)).as("_n"))
    val wA = Window.orderBy(col("avail"), col("_g"))
    val ranked = src.crossJoin(broadcast(tot))
      .withColumn("k", row_number().over(wA).cast("long"))
      .withColumn("cum", sum(col("avail")).over(
        wA.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("t", expr(s"_tot * $budgetNum div $budgetDen"))
    val cand = ranked
      .filter(col("k") < col("_n") &&
              col("avail") <= expr("(t - cum) div (_n - k)"))
      .agg(max(col("k")).as("_kstar"))
    val kf = ranked.crossJoin(broadcast(cand))
      .withColumn("ks", coalesce(col("_kstar"), lit(0L)))
    val lam = kf.agg(
        max(when(col("k") === col("ks"), col("cum")).otherwise(0L))
          .as("cumk"),
        max(col("ks")).as("ks2"), max(col("t")).as("tt"),
        max(col("_n")).as("nn"))
      .withColumn("lam", expr("(tt - cumk) div (nn - ks2)"))
      .withColumn("rem", expr("(tt - cumk) % (nn - ks2)"))
      .select(col("ks2"), col("lam"), col("rem"))
    val wN = Window.orderBy(col("_g"))
      .rowsBetween(Window.unboundedPreceding, 0)
    kf.crossJoin(broadcast(lam))
      .withColumn("urank",
        sum(when(col("k") > col("ks2"), 1L).otherwise(0L)).over(wN))
      .withColumn("alloc",
        when(col("k") <= col("ks2"), col("avail"))
          .otherwise(col("lam") +
            when(col("urank") <= col("rem"), 1L).otherwise(0L)))
      .select(col("_g"), col("avail"), col("alloc"))
  }

  /** Class-balanced downsample: keep exactly min-class-size rows from
    * EVERY stratum, chosen by the [[sampleExactK]] md5 order — the
    * majority-class downsampling step of imbalanced-training prep,
    * with a data-dependent k (the smallest stratum's count) instead of
    * a caller constant. Deterministic and replayable: the kept set is
    * a pure function of the data. Adds `rn` (1-based rank within the
    * stratum). Scale: one count hash-agg + a 1-row broadcast + the
    * same per-stratum window sort sampleExactK pays — strata sort in
    * parallel, nothing global. */
  def sampleBalanced(
      df: DataFrame, stratum: Column, id: Column): DataFrame = {
    val k = df.groupBy(stratum.as("_st")).agg(count(lit(1)).as("_c"))
      .agg(min(col("_c")).as("_k"))
    val h = md5(coalesce(id.cast("string"), lit("")))
    val w = Window.partitionBy(stratum).orderBy(h.asc, id.asc)
    df.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(k))
      .filter(col("rn") <= col("_k"))
      .drop("_k")
  }

  /** Deterministic sharded epoch shuffle: assign every row to one of
    * `shards` output shards and a position within its shard, ordered by
    * md5(seed || ":" || id) — the reproducible global permutation a
    * training run reads ("epoch 7" = seed "7" on any cluster, forever).
    *
    * This is the SCALABLE form of "ORDER BY random()": a single global
    * row_number would serialize into one partition, so the permutation
    * is materialized the way shuffled data is actually written — shard
    * assignment is map-side, and each shard orders independently
    * (Window per shard = |shards|-way parallel sort). Reading shards in
    * index order, each in position order, replays one fixed permutation
    * of the corpus. Adds (shard, pos). */
  def epochShuffle(
      df: DataFrame, id: Column, seed: String, shards: Int): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    val h = md5(concat(lit(seed), lit(":"),
                       coalesce(id.cast("string"), lit(""))))
    val shard = pmod(conv(substring(h, 1, 4), 16, 10).cast("int"),
                     lit(shards))
    val w = Window.partitionBy(col("shard")).orderBy(h.asc, id.asc)
    df.withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
  }

  /** Per-group winsorized mean: clip `valueInt` (an INTEGRAL column —
    * cents/chars/tokens) to the group's [loQ, hiQ] discrete quantiles,
    * then average. The robust-mean step of corpus stats reporting (a
    * single 2 GB document otherwise dominates a language's mean doc
    * length). Returns (grp, lo, hi, n, mean) with mean exact to 1e-4
    * (integer sum → Determinism.avgExact4's half-up integral division).
    *
    * Two hash-aggs over the corpus (quantile bounds, then clipped sum)
    * with the tiny per-group bounds frame broadcast back between them —
    * quantiles are percentile_disc (actual values, no interpolation),
    * so every intermediate is integral and engine-exact. */
  def winsorizedMean(
      df: DataFrame, group: Column, valueInt: Column,
      loQ: Double, hiQ: Double): DataFrame = {
    require(0 <= loQ && loQ <= hiQ && hiQ <= 1, "need 0 <= loQ <= hiQ <= 1")
    val v = df.select(group.as("grp"), valueInt.cast("long").as("_v"))
    val bounds = v.groupBy(col("grp"))
      .agg(expr(s"percentile_disc($loQ) WITHIN GROUP (ORDER BY _v)")
             .cast("long").as("lo"),
           expr(s"percentile_disc($hiQ) WITHIN GROUP (ORDER BY _v)")
             .cast("long").as("hi"))
      .select(col("grp").as("_bg"), col("lo"), col("hi"))
    v.join(broadcast(bounds), col("grp") === col("_bg"))
      .withColumn("_c", least(greatest(col("_v"), col("lo")), col("hi")))
      .groupBy(col("grp"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
           graft.Determinism.avgExact4(
             sum(col("_c")).cast(org.apache.spark.sql.types.DecimalType(18, 2)),
             count(lit(1))).as("mean"))
      .select(col("grp"), col("lo"), col("hi"), col("n"), col("mean"))
  }

  /** Equi-depth histogram of an integral column: `buckets` bins holding
    * ~equal row counts (the selectivity-estimation / data-profiling
    * histogram; equi-WIDTH q_agg_histogram is useless on skewed money).
    * Returns (bucket, n, lo, hi) — bucket b covers values in
    * (boundary_b, boundary_b+1]. Boundaries are ACTUAL data values
    * (discrete quantiles, percentile_disc semantics: the smallest value
    * whose cumulative fraction ≥ i/buckets), so ties collapse
    * deterministically on both engines.
    *
    * COUNTING-SORT form — neither of the naive shapes survives scale:
    * a global ntile window serializes the corpus into one partition,
    * and buckets-1 separate percentile_disc aggregates each buffer the
    * ENTIRE corpus in one final reduce task (measured 9.8 s vs < 1 s
    * for everything else at sf0.1). Instead:
    *  1. one hash-agg collapses the corpus to (value, count) — D
    *     distinct values, the only corpus-wide pass;
    *  2. cumulative counts over D via the bucketed-prefix pattern
    *     (paretoFrontier2D): per-prefix-bucket running sums stay
    *     PARTITIONED, only the tiny per-bucket total list takes a
    *     global window and broadcasts back;
    *  3. boundary_i = min value with cum·buckets ≥ i·total — the
    *     percentile_disc inequality cross-multiplied into EXACT integer
    *     arithmetic (never cum/total as a double; exactness holds while
    *     total < 2⁵², where a half-ulp of the division could not bridge
    *     the ≥ 1/total gap to i/buckets anyway);
    *  4. the one-row boundary frame broadcasts into a map-side
    *     count-of-boundaries-below assignment + final hash-agg.
    * The declared query's oracle still runs DuckDB's quantile_disc, so
    * the hash match machine-proves this reformulation ≡ the textbook
    * definition. */
  def equiDepthHistogram(
      df: DataFrame, valueInt: Column, buckets: Int,
      prefixBucketWidth: Long = 1L << 20): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    require(prefixBucketWidth > 0, "prefixBucketWidth must be > 0")
    val v = df.select(valueInt.cast("long").as("_v"))
    // integral div truncates toward zero (≠ floor for negatives) but is
    // monotone in _v, which is all contiguous prefix bucketing needs.
    // r12 (guide §3.3): `counts` feeds four plan branches (perB, the
    // cum join, tot, and the final bucketing) — lazily planned, the
    // corpus scan + value hash-agg ran 4×. Materialize the
    // value-domain-sized frame once per invocation (localCheckpoint:
    // never CacheManager-registered, so re-invocations recompute).
    val counts = v.groupBy(col("_v")).agg(count(lit(1)).as("_c"))
      .withColumn("_pb", expr(s"_v div ${prefixBucketWidth}L"))
      .localCheckpoint()
    val perB = counts.groupBy(col("_pb")).agg(sum(col("_c")).as("_bc"))
    val wCum = Window.orderBy(col("_pb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = perB.select(col("_pb"),
      coalesce(sum(col("_bc")).over(wCum), lit(0L)).as("_pre"))
    val wLoc = Window.partitionBy(col("_pb")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.join(broadcast(pre), Seq("_pb"))
      .withColumn("_cum", col("_pre") + sum(col("_c")).over(wLoc))
    val tot = counts.agg(sum(col("_c")).as("_tot"))
    val bexprs = (1 until buckets).map { i =>
      min(when(col("_cum") * buckets >= col("_tot") * i, col("_v")))
        .as(s"_b$i")
    }
    val bounds = cum.crossJoin(broadcast(tot))
      .agg(bexprs.head, bexprs.tail: _*)
    val bucket = (1 until buckets)
      .map(i => when(col("_v") > col(s"_b$i"), 1).otherwise(0))
      .reduce(_ + _)
    // final bucketing runs on the VALUE-COUNTS frame, not the corpus:
    // the bucket of a row is a function of its value alone, so
    // re-scanning the raw rows (the previous form) paid a second full
    // corpus pass + per-row bound comparisons for nothing — `counts`
    // already holds (value, multiplicity) and is |distinct values|-
    // sized, the natural frame for every post-quantile step
    counts.select(col("_v"), col("_c"))
      .crossJoin(broadcast(bounds))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(sum(col("_c")).as("n"), min(col("_v")).as("lo"),
           max(col("_v")).as("hi"))
  }
}
