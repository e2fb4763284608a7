package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.6 extension (round 6, second half) — the curation
  * operators a training-data pipeline runs BETWEEN dedup and packing:
  * DSIR-style importance weighting against a target distribution,
  * epoch-aware fractional upsampling, snapshot/time-travel reads over
  * the TxTable commit log, char-n-gram language profiling, and a
  * matrix-free power-iteration PCA over the embedding corpus.
  *
  * Scale doctrine: weights/profiles reduce to bounded dimension tables
  * (256 hash buckets, 5 langs, 64 dims) that broadcast; every
  * corpus-sized pass is one map-side-combinable hash-agg or an
  * equi-join on a bounded key; decisions ride exact integer /
  * DECIMAL(38,0) arithmetic (hash16 thresholds, half-up micents,
  * quantized embedding coordinates) so the driver's DuckDB hash gate
  * stays bit-stable at every SF.
  */
object TrainOps extends OpGroup {

  /** Each 64-dim embedding's coordinates as (vec_id, j, q): q the
    * j-th coordinate in exact micro-units. */
  private def quantizedCoords(s: org.apache.spark.sql.SparkSession,
                              d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull &&
              size(col("embedding")) === 64)
      .select(col("vec_id"),
              posexplode(transform(col("embedding"), x =>
                round(x.cast("double") * 1000000).cast("long")))
                .as(Seq("j", "q")))

  def qs: Seq[Q] = Seq(

    Q(
      // DSIR-style importance weights (Data Selection via Importance
      // Resampling, hashed-n-gram variant): score every document by
      // how much more likely its unigrams are under the TARGET
      // distribution (here: the English slice) than under the raw
      // corpus — the standard cheap proxy for "select webtext that
      // looks like the high-quality target". Features are hash16
      // buckets (256 of them — the bucket table is catalog-sized and
      // BROADCASTS; the vocabulary never becomes join state), both
      // LMs are add-1 smoothed bucket frequencies, and a doc's log
      // weight is Σ_b c_b·(ln t̂_b − ln r̂_b). One tokenize pass, two
      // bounded aggs, one broadcast join — corpus scanned O(1) times.
      "q_curate_dsir",
      (s, d) => {
        // ONE corpus tokenize pass: per-(doc,lang,source,bucket)
        // counts are the only corpus-sized agg; the bucket LMs derive
        // from THAT (256-row re-agg), and the corpus totals ride a
        // whole-frame window over the 256-row stats frame — the
        // previous `bkt.groupBy(b)` + `stats.agg(...)` branches each
        // re-tokenized the corpus (3 scans measured in the plan).
        val dc = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"),
                  explode(graft.api.Dedup.tokens(col("text"))).as("w"))
          .withColumn("b",
            pmod(graft.api.Pipeline.hash16(col("w")), lit(256)))
          .groupBy(col("doc_id"), col("lang"), col("source"), col("b"))
          .agg(count(lit(1)).as("c"))
          // r12 (guide §3.3): dc still fed TWO branches (bucket LMs +
          // the weight join-back), re-tokenizing the corpus twice —
          // materialize it once per invocation
          .localCheckpoint()
        val stats = dc.groupBy(col("b"))
          .agg(sum(col("c")).as("r"),
               sum(when(col("lang") === "en", col("c")).otherwise(0L))
                 .as("t"))
        val wAll = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
        val lw = stats
          .withColumn("rr", sum(col("r")).over(wAll))
          .withColumn("tt", sum(col("t")).over(wAll))
          .select(col("b").as("_b"),
                  (log(col("t").cast("double") + 1.0) -
                   log(col("tt").cast("double") + 256.0) -
                   log(col("r").cast("double") + 1.0) +
                   log(col("rr").cast("double") + 256.0)).as("lw"))
        dc.join(broadcast(lw), col("b") === col("_b"))
          .groupBy(col("doc_id"), col("source"))
          .agg(sum(col("c").cast("double") * col("lw")).as("w"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
               r4(avg(col("w"))).as("avg_w4"),
               r4(min(col("w"))).as("min_w4"),
               r4(max(col("w"))).as("max_w4"))
          .orderBy(col("source"))
      },
      s"""WITH tok AS (
        |  SELECT doc_id, lang, source, unnest(toks) AS w
        |  FROM (SELECT doc_id, lang, source, ${toksSql("text")} AS toks
        |        FROM documents)),
        |bkt AS (
        |  SELECT doc_id, lang, source, (${u16Sql("w")}) % 256 AS b
        |  FROM tok),
        |dc AS (
        |  SELECT doc_id, source, b, COUNT(*) AS c
        |  FROM bkt GROUP BY doc_id, source, b),
        |stats AS (
        |  SELECT b, COUNT(*) AS r,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
        |  FROM bkt GROUP BY b),
        |tots AS (SELECT SUM(r) AS rr, SUM(t) AS tt FROM stats),
        |lw AS (
        |  SELECT b,
        |    ln(CAST(t AS DOUBLE) + 1.0) - ln(CAST(tt AS DOUBLE) + 256.0)
        |    - ln(CAST(r AS DOUBLE) + 1.0)
        |    + ln(CAST(rr AS DOUBLE) + 256.0) AS lw
        |  FROM stats, tots),
        |wd AS (
        |  SELECT dc.doc_id, dc.source,
        |    SUM(CAST(dc.c AS DOUBLE) * lw.lw) AS w
        |  FROM dc JOIN lw USING (b) GROUP BY dc.doc_id, dc.source)
        |SELECT source, COUNT(*) AS n_docs,
        |  round(AVG(w), 4) + 0 AS avg_w4,
        |  round(MIN(w), 4) + 0 AS min_w4,
        |  round(MAX(w), 4) + 0 AS max_w4
        |FROM wd GROUP BY source ORDER BY source""".stripMargin),

    Q(
      // Epoch-aware fractional upsampling of the language mix: each
      // lang gets a literal multiplier m (e.g. de ×2.5); every doc is
      // emitted ⌊m⌋ times and one extra time iff hash16(doc_id) falls
      // under frac(m)·65536 — the deterministic coin every epoch-
      // mixture builder needs (the SAME doc set is upsampled on every
      // run and every engine; no RNG, no resample drift). The explode
      // is bounded by ⌈m⌉ ≤ 4; output proves the realized multiplier
      // per lang lands on the target to ±1/65536.
      "q_mix_upsample",
      (s, d) => {
        val mult = Seq(("de", 2L, 32768), ("en", 1L, 0), ("es", 3L, 0),
                       ("fr", 2L, 32768), ("zh", 1L, 32768))
        val base = mult.foldLeft(lit(null).cast("long")) {
          case (acc, (l, b, _)) =>
            when(col("lang") === l, lit(b)).otherwise(acc)
        }
        val th = mult.foldLeft(lit(null).cast("int")) {
          case (acc, (l, _, t)) =>
            when(col("lang") === l, lit(t)).otherwise(acc)
        }
        val nrep = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"))
          .withColumn("h", graft.api.Pipeline.hash16(
            concat(col("doc_id").cast("string"), lit(":up"))))
          .withColumn("n_rep",
            base + when(col("h") < th, 1L).otherwise(0L))
        val rm = nrep.groupBy(col("lang"))
          .agg(sum(col("n_rep")).as("tot"), count(lit(1)).as("n_in"))
        nrep
          .select(col("lang"),
                  explode(sequence(lit(1L), col("n_rep"))).as("copy"))
          .groupBy(col("lang"), col("copy"))
          .agg(count(lit(1)).as("n_docs"))
          .join(broadcast(rm), "lang")
          .select(col("lang"), col("copy"), col("n_docs"), col("n_in"),
                  intRatio4(col("tot") * 10000, col("n_in"))
                    .as("realized_mult4"))
          .orderBy(col("lang"), col("copy"))
      },
      s"""WITH m(lang, base, th) AS (VALUES
        |    ('de', 2, 32768), ('en', 1, 0), ('es', 3, 0),
        |    ('fr', 2, 32768), ('zh', 1, 32768)),
        |nrep AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(m.base + (CASE WHEN
        |      ${u16Sql("CAST(doc_id AS VARCHAR) || ':up'")} < m.th
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_rep
        |  FROM documents d JOIN m ON d.lang = m.lang),
        |rm AS (
        |  SELECT lang, SUM(n_rep) AS tot, COUNT(*) AS n_in
        |  FROM nrep GROUP BY lang),
        |ex AS (
        |  SELECT lang, unnest(generate_series(1, n_rep)) AS copy
        |  FROM nrep),
        |cnt AS (
        |  SELECT lang, copy, COUNT(*) AS n_docs FROM ex
        |  GROUP BY lang, copy)
        |SELECT c.lang, CAST(c.copy AS BIGINT) AS copy,
        |  CAST(c.n_docs AS BIGINT) AS n_docs,
        |  CAST(rm.n_in AS BIGINT) AS n_in,
        |  CAST((2*(tot*10000) + n_in) // (2*n_in) AS DOUBLE) / 10000.0
        |    AS realized_mult4
        |FROM cnt c JOIN rm USING (lang)
        |ORDER BY lang, copy""".stripMargin),

    Q(
      // Snapshot isolation / time travel over the TxTable commit log,
      // proven under the hash gate: commit v1 = the pre-1998 order
      // book (overwrite), v2 = append the rest, then read BOTH pinned
      // snapshots back and aggregate each — "the table as of
      // yesterday" as a first-class query. The oracle recomputes the
      // two snapshot aggregates from the raw orders table, so the
      // commit-log resolution, manifest fold, and pinned-version read
      // must reproduce the source data EXACTLY (rows + cents) or the
      // hash flips. Store is per-sfDir, rebuilt per construction
      // (bounded disk, shutdown-hook cleaned).
      "q_etl_time_travel",
      (s, d) => {
        val dir = scratchDir("graft_txdemo_", d, wipe = true)
        val t = graft.model.TxTable(s, dir)
        val o = Frames.orderCentsByYear(s, d)
        t.overwrite(o.filter(col("y") < 1998))
        t.append(o.filter(col("y") >= 1998))
        def snap(v: Long): DataFrame = t.readAt(v)
          .agg(count(lit(1)).as("n_rows"),
               sum(col("cents").cast(D38)).as("sc"))
          .select(lit(v).as("version"), col("n_rows"),
                  (col("sc").cast("double") / 100.0).as("rev_usd"))
        snap(1L).unionAll(snap(2L)).orderBy(col("version"))
      },
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS cents,
        |    year(o_orderdate) AS y
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0
        |    AS rev_usd
        |FROM o WHERE y < 1998
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0
        |FROM o
        |ORDER BY version""".stripMargin),

    Q(
      // Char-trigram language profiles and their pairwise cosine —
      // "how separable are the corpus languages at the character
      // level?" (the fastText/langid feature space, reduced to its
      // diagnostic). Per-lang trigram counts are ONE hash-agg over the
      // sliding-position explode (bounded ×|text| like tokenization);
      // the cross-lang dot is an equi-join ON TRIGRAM between two
      // catalog-sized profiles (≤ langs·|trigram domain| rows — a
      // property of the script, not the corpus). Counts and dots are
      // exact integers in DECIMAL(38,0); cosine is one final double.
      "q_text_char_ngram_sim",
      (s, d) => {
        // The per-lang norms ride a PARTITIONED window over the
        // already-aggregated profile instead of a separate
        // `prof.groupBy(lang)` branch: a third reference to `prof`
        // would re-tokenize the whole corpus (each DataFrame
        // reference re-executes its subtree — measured as 4 corpus
        // scans in the physical plan, the 10.4×-at-100× driver), while
        // the window runs on the script-bounded profile frame. The
        // self-join's two sides stay byte-identical so the shuffle
        // exchange is reusable.
        val prof = Tables.documents(s, d)
          .filter(length(col("text")) >= 3)
          .select(col("lang"),
                  explode(sequence(lit(1), length(col("text")) - 2))
                    .as("i"),
                  col("text"))
          .select(col("lang"), expr("substring(text, i, 3)").as("tri"))
          .groupBy(col("lang"), col("tri"))
          .agg(count(lit(1)).as("c"))
        val wL = Window.partitionBy(col("lang"))
        val profN = prof
          .withColumn("nrm", sum((col("c").cast(D38) * col("c"))
                                   .cast(D38)).over(wL))
          .withColumn("n_tri", count(lit(1)).over(wL))
          // r12 (guide §3.3): both self-join sides — materialize the
          // profile-sized frame once rather than leaning on
          // ReuseExchange to dedupe the corpus tokenize (an
          // optimization, not a contract) and re-running the norm
          // window twice
          .localCheckpoint()
        val a = profN.select(col("lang").as("la"), col("tri").as("ta"),
                             col("c").as("ca"), col("nrm").as("na"),
                             col("n_tri").as("n_tri_a"))
        val b = profN.select(col("lang").as("lb"), col("tri").as("tb"),
                             col("c").as("cb"), col("nrm").as("nb"),
                             col("n_tri").as("n_tri_b"))
        a.join(b, col("ta") === col("tb") && col("la") < col("lb"))
          .groupBy(col("la"), col("lb"), col("na"), col("nb"),
                   col("n_tri_a"), col("n_tri_b"))
          .agg(sum((col("ca").cast(D38) * col("cb")).cast(D38))
                 .as("dot"))
          .select(col("la").as("lang_a"), col("lb").as("lang_b"),
                  col("n_tri_a"), col("n_tri_b"),
                  r4(col("dot").cast("double") /
                     sqrt(col("na").cast("double") *
                          col("nb").cast("double"))).as("cos4"))
          .orderBy(col("lang_a"), col("lang_b"))
      },
      """WITH tri AS (
        |  SELECT lang, substr(text, i, 3) AS tri
        |  FROM (SELECT lang, text,
        |          unnest(generate_series(1, len(text) - 2)) AS i
        |        FROM documents WHERE len(text) >= 3)),
        |prof AS (
        |  SELECT lang, tri, COUNT(*) AS c FROM tri GROUP BY lang, tri),
        |norms AS (
        |  SELECT lang, SUM(CAST(c AS HUGEINT) * c) AS nrm,
        |    COUNT(*) AS n_tri
        |  FROM prof GROUP BY lang),
        |dots AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    SUM(CAST(a.c AS HUGEINT) * b.c) AS dot
        |  FROM prof a JOIN prof b
        |    ON a.tri = b.tri AND a.lang < b.lang
        |  GROUP BY a.lang, b.lang)
        |SELECT d.lang_a, d.lang_b,
        |  CAST(na.n_tri AS BIGINT) AS n_tri_a,
        |  CAST(nb.n_tri AS BIGINT) AS n_tri_b,
        |  round(CAST(d.dot AS DOUBLE)
        |        / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)),
        |        4) + 0 AS cos4
        |FROM dots d
        |JOIN norms na ON d.lang_a = na.lang
        |JOIN norms nb ON d.lang_b = nb.lang
        |ORDER BY d.lang_a, d.lang_b""".stripMargin),

    Q(
      // Top principal direction of the embedding corpus by MATRIX-FREE
      // power iteration — v ← Xᵀ(Xv) — so the d×d second-moment
      // matrix is never materialized and each step is two
      // corpus-linear equi-join passes (the shape that survives d =
      // 4096 at 100 TB, where an explicit Gram explode is n·d²).
      // Coordinates quantize to exact 1e-6 integers (the q_embed_gram
      // device); after every step the vector renormalizes to max
      // |component| = 10⁴ by exact half-up division, so all three
      // iterations stay in DECIMAL(38,0) and the iterate is
      // bit-identical cross-engine — no float drift, no eigensolver
      // in sight. Sign fixed by forcing the first max-|loading| dim
      // positive; the Rayleigh quotient is the one output double.
      "q_embed_pca_power",
      (s, d) => {
        // r12 (guide §1.1/§3.3): the iterate chain below references qv
        // nine times and v3 five times (wf, sv2, jm, sg, final); planned
        // lazily, Spark expanded every reference into its own copy of
        // the whole upstream pipeline — the before-plan is 1422
        // operators with 282 parquet scans of the embeddings table.
        // Materialize (per invocation — localCheckpoint never touches
        // the CacheManager, so every bench/verify rep recomputes from
        // parquet) the exploded quantized corpus ONCE, and each 64-row
        // iterate after its rescale: the plan collapses to the
        // first-principles ideal — one explode pass + 2 passes per
        // power step over the materialized qv, all 64-cell aggregates.
        val qv = quantizedCoords(s, d).localCheckpoint()
        def rescale(raw: DataFrame): DataFrame = {
          val m = raw.agg(max(abs(col("raw"))).as("m"))
          raw.crossJoin(broadcast(m))
            .select(col("j"), sHalfUp(col("raw") * 10000, col("m"))
                      .as("u"))
            .localCheckpoint() // 64 rows — one tiny job per step
        }
        def iterate(v: DataFrame): DataFrame = {
          val w = qv
            .join(broadcast(v.withColumnRenamed("j", "_vj")),
                  col("j") === col("_vj"))
            .groupBy(col("vec_id"))
            .agg(sum((col("q").cast(D38) * col("u")).cast(D38)).as("w"))
          rescale(qv.join(w, "vec_id").groupBy(col("j"))
            .agg(sum((col("w") * col("q")).cast(D38)).as("raw")))
        }
        val w0 = qv.groupBy(col("vec_id"))
          .agg(sum(col("q").cast(D38)).as("w"))
        val v1 = rescale(qv.join(w0, "vec_id").groupBy(col("j"))
          .agg(sum((col("w") * col("q")).cast(D38)).as("raw")))
        val v3 = iterate(iterate(v1))
        val wf = qv
          .join(broadcast(v3.withColumnRenamed("j", "_vj")),
                col("j") === col("_vj"))
          .groupBy(col("vec_id"))
          .agg(sum((col("q").cast(D38) * col("u")).cast(D38)).as("w"))
        val sw2 = wf.agg(sum((col("w") * col("w")).cast(D38)).as("sw2"))
        val sv2 = v3.agg(sum((col("u") * col("u")).cast(D38)).as("sv2"))
        val jm = v3.filter(abs(col("u")) === 10000)
          .agg(min(col("j")).as("jm"))
        val sg = v3.join(broadcast(jm), col("j") === col("jm"))
          .select(when(col("u") >= 0, lit(1L)).otherwise(lit(-1L))
                    .as("sg"))
        v3.crossJoin(broadcast(sg))
          .crossJoin(broadcast(sw2)).crossJoin(broadcast(sv2))
          .select(col("j").cast("long").as("dim"),
                  ((col("u") * col("sg")).cast("double") / 10000.0)
                    .as("loading4"),
                  r4(col("sw2").cast("double") /
                     col("sv2").cast("double") / 1e12).as("eigval4"))
          .orderBy(col("dim"))
      },
      {
        def rescaleSql(raw: String, v: String) =
          s"""m_$v AS (SELECT MAX(ABS(raw)) AS m FROM $raw),
             |$v AS (
             |  SELECT j, ${sHalfUpSql("raw * 10000", "m")} AS u
             |  FROM $raw, m_$v)"""
        def stepSql(vPrev: String, w: String, raw: String) =
          s"""$w AS (
             |  SELECT q.vec_id, SUM(CAST(q.q AS HUGEINT) * v.u) AS w
             |  FROM qv q JOIN $vPrev v ON q.j = v.j GROUP BY q.vec_id),
             |$raw AS (
             |  SELECT q.j, SUM(CAST(w.w AS HUGEINT) * q.q) AS raw
             |  FROM qv q JOIN $w w ON q.vec_id = w.vec_id GROUP BY q.j)"""
        s"""WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x ->
          |      CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
          |      AS xq
          |  FROM embeddings
          |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
          |qv AS (
          |  SELECT vec_id, i - 1 AS j, xq[i] AS q
          |  FROM (SELECT vec_id, xq,
          |          unnest(generate_series(1, 64)) AS i FROM e)),
          |w0 AS (
          |  SELECT vec_id, SUM(CAST(q AS HUGEINT)) AS w
          |  FROM qv GROUP BY vec_id),
          |raw1 AS (
          |  SELECT q.j, SUM(CAST(w.w AS HUGEINT) * q.q) AS raw
          |  FROM qv q JOIN w0 w ON q.vec_id = w.vec_id GROUP BY q.j),
          |${rescaleSql("raw1", "v1").stripMargin},
          |${stepSql("v1", "w2", "raw2").stripMargin},
          |${rescaleSql("raw2", "v2").stripMargin},
          |${stepSql("v2", "w3", "raw3").stripMargin},
          |${rescaleSql("raw3", "v3").stripMargin},
          |wf AS (
          |  SELECT q.vec_id, SUM(CAST(q.q AS HUGEINT) * v.u) AS w
          |  FROM qv q JOIN v3 v ON q.j = v.j GROUP BY q.vec_id),
          |sw2 AS (SELECT SUM(CAST(w AS HUGEINT) * w) AS sw2 FROM wf),
          |sv2 AS (SELECT SUM(CAST(u AS HUGEINT) * u) AS sv2 FROM v3),
          |jm AS (SELECT MIN(j) AS jm FROM v3 WHERE ABS(u) = 10000),
          |sg AS (
          |  SELECT CASE WHEN v.u >= 0 THEN 1 ELSE -1 END AS sg
          |  FROM v3 v, jm WHERE v.j = jm.jm)
          |SELECT CAST(v3.j AS BIGINT) AS dim,
          |  CAST(v3.u * sg.sg AS DOUBLE) / 10000.0 AS loading4,
          |  round(CAST(sw2.sw2 AS DOUBLE) / CAST(sv2.sv2 AS DOUBLE)
          |        / 1e12, 4) + 0 AS eigval4
          |FROM v3, sg, sw2, sv2 ORDER BY dim""".stripMargin
      }),

    Q(
      // Maximal Marginal Relevance (inner-product form): pick the 5
      // embeddings that are jointly RELEVANT to the corpus centroid
      // and DIVERSE from each other — score = 2·rel(i) − max dot to
      // the already-selected set, the greedy diversity selection a
      // training-data curator runs to seed a balanced subset. All
      // dots are exact integers over the 1e-6-quantized coordinates
      // (centroid components half-up integers), so every greedy
      // decision is an exact-integer argmax with a vec_id tiebreak —
      // bit-identical to the oracle's 5 unrolled CTE steps. Each step
      // is one corpus-linear pass (candidates × ≤5-vector broadcast);
      // the driver pulls exactly k=5 single-row argmaxes (the
      // kmeans_fit trainer shape: driver-bounded by k, never by the
      // corpus).
      "q_embed_mmr",
      (s, d) => {
        // r12 (guide §3.3, the q_embed_pca_power fix): the 5 greedy
        // picks each re-planned qv (2×) and the whole rel pipeline —
        // ~20 scans+explodes of the embeddings table per invocation.
        // Materialize qv and rel once per invocation (localCheckpoint:
        // recomputed from parquet on every re-invocation, never a
        // cross-run cache); each pick then only runs its own
        // max-dot pass over the materialized qv.
        val qv = quantizedCoords(s, d).localCheckpoint()
        val cent = qv.groupBy(col("j"))
          .agg(sum(col("q").cast(D38)).as("sq"),
               count(lit(1)).as("c"))
          .select(col("j").as("_cj"), sHalfUp(col("sq"), col("c")).as("u"))
        val rel = qv.join(broadcast(cent), col("j") === col("_cj"))
          .groupBy(col("vec_id"))
          .agg(sum((col("q").cast(D38) * col("u")).cast(D38)).as("rel"))
          .localCheckpoint()
        var picks = Vector.empty[(Long, Long, Long, Long, Long)]
        for (ord <- 1 to 5) {
          val done = picks.map(_._2)
          val scored = (if (done.isEmpty)
            rel.withColumn("mx", lit(0L).cast(D38))
          else {
            val selqv = qv.filter(col("vec_id").isin(done: _*))
              .select(col("j").as("js"), col("q").as("sq"),
                      col("vec_id").as("svid"))
            val mx = qv.filter(!col("vec_id").isin(done: _*))
              .join(broadcast(selqv), col("j") === col("js"))
              .groupBy(col("vec_id"), col("svid"))
              .agg(sum((col("q").cast(D38) * col("sq")).cast(D38))
                     .as("dot"))
              .groupBy(col("vec_id")).agg(max(col("dot")).as("mx"))
            rel.join(mx, "vec_id")
          }).withColumn("score", (col("rel") * 2 - col("mx")).cast(D38))
          val r = scored
            .agg(max(struct(col("score"), (-col("vec_id")).as("negid"),
                            col("rel"), col("mx"))).as("b"))
            .select(col("b.score"), col("b.negid"), col("b.rel"),
                    col("b.mx"))
            .head()
          def dec(i: Int): Long =
            r.getAs[java.math.BigDecimal](i).longValueExact()
          picks :+= ((ord.toLong, -r.getAs[Long](1), dec(2), dec(3),
                      dec(0)))
        }
        import s.implicits._
        picks.toDF("pick_order", "vec_id", "rel", "max_prev_dot",
                   "score")
          .orderBy(col("pick_order"))
      },
      {
        // The selected set is pre-filtered into a tiny MATERIALIZED
        // CTE before the j-equi-join, and the done-set exclusion runs
        // as NOT EXISTS at the 1-row pick stage — a `vec_id NOT IN`
        // inside the join WHERE forces DuckDB into a null-aware join
        // over the UNFILTERED qv×qv j-join (~1e12 intermediate rows:
        // found by the sf1 gate as a spill-to-disk death, not a wrong
        // answer).
        def step(k: Int): String = {
          val sel = (1 until k).map(i => s"SELECT vec_id FROM p$i")
            .mkString(" UNION ALL ")
          s"""sel$k AS (SELECT vec_id FROM ($sel)),
             |sq$k AS MATERIALIZED (
             |  SELECT vec_id, j, q FROM qv
             |  WHERE vec_id IN (SELECT vec_id FROM sel$k)),
             |d$k AS (
             |  SELECT q.vec_id, v.vec_id AS svid,
             |    SUM(CAST(q.q AS HUGEINT) * v.q) AS dot
             |  FROM qv q JOIN sq$k v ON q.j = v.j
             |  GROUP BY q.vec_id, v.vec_id),
             |m$k AS (SELECT vec_id, MAX(dot) AS mx FROM d$k
             |        GROUP BY vec_id),
             |p$k AS MATERIALIZED (
             |  SELECT $k AS pick_order, r.vec_id, r.rel, m.mx,
             |    2*r.rel - m.mx AS score
             |  FROM rel r JOIN m$k m ON r.vec_id = m.vec_id
             |  WHERE NOT EXISTS (SELECT 1 FROM sel$k s
             |                    WHERE s.vec_id = r.vec_id)
             |  ORDER BY 2*r.rel - m.mx DESC, r.vec_id LIMIT 1)"""
        }
        s"""WITH e AS (
          |  SELECT vec_id,
          |    list_transform(embedding, x ->
          |      CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
          |      AS xq
          |  FROM embeddings
          |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
          |qv AS MATERIALIZED (
          |  SELECT vec_id, i - 1 AS j, xq[i] AS q
          |  FROM (SELECT vec_id, xq,
          |          unnest(generate_series(1, 64)) AS i FROM e)),
          |cent AS (
          |  SELECT j, ${sHalfUpSql("SUM(CAST(q AS HUGEINT))",
                                    "COUNT(*)")} AS u
          |  FROM qv GROUP BY j),
          |rel AS MATERIALIZED (
          |  SELECT q.vec_id, SUM(CAST(q.q AS HUGEINT) * c.u) AS rel
          |  FROM qv q JOIN cent c ON q.j = c.j GROUP BY q.vec_id),
          |p1 AS MATERIALIZED (
          |  SELECT 1 AS pick_order, vec_id, rel,
          |    CAST(0 AS HUGEINT) AS mx, 2*rel AS score
          |  FROM rel ORDER BY 2*rel DESC, vec_id LIMIT 1),
          |${(2 to 5).map(step).mkString(",\n").stripMargin}
          |SELECT CAST(pick_order AS BIGINT) AS pick_order, vec_id,
          |  CAST(rel AS BIGINT) AS rel,
          |  CAST(mx AS BIGINT) AS max_prev_dot,
          |  CAST(score AS BIGINT) AS score
          |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
          |      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
          |      UNION ALL SELECT * FROM p5)
          |ORDER BY pick_order""".stripMargin
      }),

    Q(
      // Tokenizer fertility per (lang, source) — the tokenizer-
      // efficiency diagnostic every multilingual budget plan needs:
      // subword tokens per whitespace word (fertility), bytes per
      // subword token, and the multibyte inflation (bytes−chars)/chars
      // that predicts how hard UTF-8-heavy languages hit a byte-level
      // tokenizer. One tokenize pass (the shared Dedup.tokens regex +
      // its toksSql twin), one hash-agg to the ≤20-cell (lang,source)
      // grid; every ratio is an exact half-up integer division at
      // scale 4 over the grid, never a float sum.
      "q_curate_tokenizer_fertility",
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("lang"), col("source"),
                  size(graft.api.Dedup.tokens(col("text"))).cast("long")
                    .as("ws"),
                  coalesce(aggregate(
                    transform(graft.api.Dedup.tokens(col("text")),
                              w => ceil(length(w) / 4.0).cast("long")),
                    lit(0L), (a, b) => a + b), lit(0L)).as("bpe"),
                  length(col("text")).cast("long").as("nchars"),
                  octet_length(col("text")).cast("long").as("nbytes"))
        t.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("ws")).as("ws_tokens"),
               sum(col("bpe")).as("bpe_tokens"),
               sum(col("nchars")).as("sum_chars"),
               sum(col("nbytes")).as("sum_bytes"))
          .select(col("lang"), col("source"), col("n_docs"),
                  col("ws_tokens"), col("bpe_tokens"),
                  intRatio4Wide((col("bpe_tokens").cast(D38) * 10000)
                                  .cast(D38), col("ws_tokens"))
                    .as("fertility4"),
                  intRatio4Wide((col("sum_bytes").cast(D38) * 10000)
                                  .cast(D38), col("bpe_tokens"))
                    .as("bytes_per_tok4"),
                  intRatio4Wide(((col("sum_bytes") - col("sum_chars"))
                                   .cast(D38) * 10000).cast(D38),
                                col("sum_chars"))
                    .as("multibyte_ratio4"))
          .orderBy(col("lang"), col("source"))
      },
      s"""WITH t AS (
        |  SELECT lang, source,
        |    len(toks) AS ws,
        |    COALESCE(list_sum(list_transform(toks,
        |      w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS bpe,
        |    length(text) AS nchars, strlen(text) AS nbytes
        |  FROM (SELECT lang, source, text, ${toksSql("text")} AS toks
        |        FROM documents)),
        |g AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |    SUM(ws) AS ws_tokens, SUM(bpe) AS bpe_tokens,
        |    SUM(nchars) AS sum_chars, SUM(nbytes) AS sum_bytes
        |  FROM t GROUP BY lang, source)
        |SELECT lang, source, n_docs,
        |  CAST(ws_tokens AS BIGINT) AS ws_tokens,
        |  CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
        |  CAST((2*(CAST(bpe_tokens AS HUGEINT) * 10000) + ws_tokens)
        |       // (2*ws_tokens) AS DOUBLE) / 10000.0 AS fertility4,
        |  CAST((2*(CAST(sum_bytes AS HUGEINT) * 10000) + bpe_tokens)
        |       // (2*bpe_tokens) AS DOUBLE) / 10000.0 AS bytes_per_tok4,
        |  CAST((2*(CAST(sum_bytes - sum_chars AS HUGEINT) * 10000)
        |        + sum_chars)
        |       // (2*sum_chars) AS DOUBLE) / 10000.0
        |    AS multibyte_ratio4
        |FROM g ORDER BY lang, source""".stripMargin),

    Q(
      // MERGE (upsert) into the TxTable, action counts and the merged
      // snapshot UNDER THE HASH GATE: the table starts as the
      // pre-1997 order book; the batch carries price corrections for
      // its even-keyed rows (+$1.00 each) AND all the 1997+ orders as
      // inserts; TxTable.merge replaces matched keys, inserts the
      // rest, and commits the rewrite as one atomic optimistic
      // overwrite. The oracle recomputes the update/insert counts and
      // the merged revenue from the raw orders table, so the key
      // matching, the anti-join rewrite, and the commit-log read must
      // reproduce the upsert EXACTLY (rows + cents) or the hash
      // flips. The batch's key set drives a broadcast anti-join —
      // deltas never shuffle the whole table.
      "q_etl_merge_upsert",
      (s, d) => {
        val dir = scratchDir("graft_txdemo_m", d, wipe = true)
        val t = graft.model.TxTable(s, dir)
        // r13 (guide §3.3): `o` feeds the seed overwrite AND both batch
        // filters — three orders scans per invocation without a seam
        val o = Frames.orderCentsByYear(s, d)
          .localCheckpoint()
        t.overwrite(o.filter(col("y") < 1997))
        val batch = o
          .filter(col("y") < 1997 && col("o_orderkey") % 2 === 0)
          .withColumn("cents", col("cents") + 100L)
          .unionByName(o.filter(col("y") >= 1997))
        val (v, nUpd, nIns) = t.merge(batch, "o_orderkey")
        t.read()
          .agg(count(lit(1)).as("n_rows"),
               sum(col("cents").cast(D38)).as("sc"))
          .select(lit(v).as("version"), lit(nUpd).as("n_updated"),
                  lit(nIns).as("n_inserted"), col("n_rows"),
                  (col("sc").cast("double") / 100.0).as("rev_usd"))
      },
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT) AS cents,
        |    year(o_orderdate) AS y
        |  FROM orders),
        |upd AS (SELECT COUNT(*) AS n_updated FROM o
        |        WHERE y < 1997 AND o_orderkey % 2 = 0),
        |ins AS (SELECT COUNT(*) AS n_inserted FROM o WHERE y >= 1997)
        |SELECT CAST(2 AS BIGINT) AS version,
        |  CAST(upd.n_updated AS BIGINT) AS n_updated,
        |  CAST(ins.n_inserted AS BIGINT) AS n_inserted,
        |  (SELECT COUNT(*) FROM o) AS n_rows,
        |  CAST((SELECT SUM(CAST(cents AS HUGEINT)) FROM o)
        |       + CAST(upd.n_updated AS HUGEINT) * 100 AS DOUBLE) / 100.0
        |    AS rev_usd
        |FROM upd, ins""".stripMargin),

    Q(
      // Write–Audit–Publish over the TxTable: attempt 1 stages a
      // CORRUPT 1998+ batch (negated cents) whose data files land
      // invisibly, fails the audit ("no negative cents"), and is
      // abandoned WITHOUT moving the table head; attempt 2 stages the
      // clean batch, passes, and publishes. Each output row carries
      // the post-attempt head version and the table aggregates AT that
      // head, so the oracle (which recomputes both states from raw
      // orders) proves the failed publish left v1 bit-identical and
      // the successful one appended exactly the batch — the
      // files-invisible-until-manifest property under the hash gate.
      "q_etl_wap",
      (s, d) => {
        val dir = scratchDir("graft_txdemo_w", d, wipe = true)
        val t = graft.model.TxTable(s, dir)
        // r13 (guide §3.3): `o` feeds the seed overwrite and `late`
        // feeds BOTH WAP attempts (each stages its own data files) —
        // four orders scans per invocation without a seam
        val o = Frames.orderCentsByYear(s, d)
          .localCheckpoint()
        t.overwrite(o.filter(col("y") < 1998))
        def audit(df: DataFrame): Option[String] = {
          val r = df.agg(min(col("cents")).as("mn"),
                         count(lit(1)).as("n")).head()
          if (r.getAs[Long]("n") == 0L) Some("empty batch")
          else if (r.getAs[Long]("mn") < 0L) Some("negative cents")
          else None
        }
        val late = o.filter(col("y") >= 1998)
        val bad = t.writeAuditPublish(
          late.withColumn("cents", -col("cents")))(audit)
        val badHead = t.currentVersion()
        val good = t.writeAuditPublish(late)(audit)
        val goodHead = t.currentVersion()
        def state(attempt: Long, published: Long, verdict: String,
                  ver: Long) =
          t.readAt(ver)
            .agg(count(lit(1)).as("n_rows"),
                 sum(col("cents").cast(D38)).as("sc"))
            .select(lit(attempt).as("attempt"),
                    lit(verdict).as("verdict"),
                    lit(published).as("published"),
                    lit(ver).as("head_version"), col("n_rows"),
                    (col("sc").cast("double") / 100.0).as("rev_usd"))
        state(1L, if (bad.isRight) 1L else 0L,
              bad.left.getOrElse("ok"), badHead)
          .unionAll(state(2L, if (good.isRight) 1L else 0L,
                          good.left.getOrElse("ok"), goodHead))
          .orderBy(col("attempt"))
      },
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS cents,
        |    year(o_orderdate) AS y
        |  FROM orders)
        |SELECT CAST(1 AS BIGINT) AS attempt,
        |  'negative cents' AS verdict,
        |  CAST(0 AS BIGINT) AS published,
        |  CAST(1 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0
        |    AS rev_usd
        |FROM o WHERE y < 1998
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'ok', CAST(1 AS BIGINT),
        |  CAST(2 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0
        |FROM o
        |ORDER BY attempt""".stripMargin),

    Q(
      // Vacuum audit over the TxTable data directory — the maintenance
      // report a real lakehouse runs before reclaiming space, with all
      // three file populations UNDER THE HASH GATE: live (named by the
      // head manifest), unlisted (named by an older manifest only —
      // time-travel debt, reclaimable past the retention horizon), and
      // unreferenced (no manifest at all — audit-failed/crashed writer
      // debris, deletable immediately). The demo builds one of each:
      // v1 overwrite (pre-1996, unlisted by v2), v2 overwrite (1996),
      // and an always-rejected WAP stage (1997+, cents negated). The
      // oracle recomputes every category's rows + cents from raw
      // orders, so the manifest-set algebra (referenced-minus-live,
      // all-minus-referenced) must classify every file correctly or a
      // whole year band lands in the wrong bucket and the hash flips.
      "q_etl_vacuum_audit",
      (s, d) => {
        val dir = scratchDir("graft_txdemo_v", d, wipe = true)
        val t = graft.model.TxTable(s, dir)
        // r13 (guide §3.3): `o` feeds three commit writes — three
        // orders scans per invocation without a seam
        val o = Frames.orderCentsByYear(s, d)
          .localCheckpoint()
        t.overwrite(o.filter(col("y") < 1996))
        t.overwrite(o.filter(col("y") === 1996))
        val staged = t.writeAuditPublish(
          o.filter(col("y") >= 1997).withColumn("cents", -col("cents")))(
          _ => Some("vacuum demo: always reject"))
        require(staged.isLeft, "the demo stage must be abandoned")
        val ddl = org.apache.spark.sql.types.StructType
          .fromDDL(t.schemaDdlAt(t.currentVersion()))
        def readRel(files: Seq[String]): DataFrame =
          if (files.isEmpty)
            s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], ddl)
          else s.read.schema(ddl).parquet(files.map(f => s"$dir/$f"): _*)
        def cat(name: String, df: DataFrame) = df
          .agg(count(lit(1)).as("n_rows"),
               sum(col("cents").cast(D38)).as("sc"))
          .select(lit(name).as("category"), col("n_rows"),
                  (coalesce(col("sc"), lit(0).cast(D38)).cast("double")
                     / 100.0).as("rev_usd"))
        cat("live", t.read())
          .unionAll(cat("unlisted", readRel(t.unlistedFiles())))
          .unionAll(cat("unreferenced", readRel(t.unreferencedFiles())))
          .orderBy(col("category"))
      },
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS cents,
        |    year(o_orderdate) AS y
        |  FROM orders)
        |SELECT 'live' AS category, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0
        |    AS rev_usd
        |FROM o WHERE y = 1996
        |UNION ALL
        |SELECT 'unlisted', COUNT(*),
        |  CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0
        |FROM o WHERE y < 1996
        |UNION ALL
        |SELECT 'unreferenced', COUNT(*),
        |  CAST(SUM(CAST(-cents AS HUGEINT)) AS DOUBLE) / 100.0
        |FROM o WHERE y >= 1997
        |ORDER BY category""".stripMargin),

    Q(
      // TxTable compaction under the hash gate: the order book lands
      // as THREE separate appends (the small-files problem by
      // construction), `compact` rewrites the snapshot's small files
      // into one and atomically swaps them in a single commit — and
      // the oracle proves the compacted table still carries every row
      // and every cent bit-exactly. The output pins the version
      // arithmetic too (3 appends + 1 compact = head v4) and the
      // file-population shift (compaction UNLISTS, never deletes:
      // the pre-compaction files become time-travel debt, readable at
      // v3). A compaction that dropped or duplicated one row anywhere
      // would flip the hash.
      "q_etl_compact_tx",
      (s, d) => {
        val dir = scratchDir("graft_txdemo_c", d, wipe = true)
        val t = graft.model.TxTable(s, dir)
        // r13 (guide §3.3): `o` feeds three appends — three orders
        // scans per invocation without a seam
        val o = Frames.orderCentsByYear(s, d)
          .localCheckpoint()
        t.append(o.filter(col("y") < 1996))
        t.append(o.filter(col("y") === 1996 || col("y") === 1997))
        t.append(o.filter(col("y") >= 1998))
        val head = t.compact(smallBytes = Long.MaxValue)
        def agg(df: DataFrame, which: String) = df
          .agg(count(lit(1)).as("n_rows"),
               sum(col("cents").cast(D38)).as("sc"))
          .select(lit(which).as("snapshot"),
                  lit(head).as("head_version"), col("n_rows"),
                  (col("sc").cast("double") / 100.0).as("rev_usd"))
        agg(t.readAt(3), "pre_compact")
          .unionAll(agg(t.readAt(head), "post_compact"))
          .orderBy(col("snapshot"))
      },
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS cents
        |  FROM orders)
        |SELECT 'post_compact' AS snapshot,
        |  CAST(4 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0
        |    AS rev_usd
        |FROM o
        |UNION ALL
        |SELECT 'pre_compact', CAST(4 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0
        |FROM o
        |ORDER BY snapshot""".stripMargin),

    Q(
      // Contrastive hard-example mining over the labeled embedding
      // corpus — for each of the 5 lowest-id anchors: the hardest
      // NEGATIVE (max inner product among other-label vectors) and the
      // hardest POSITIVE (min inner product among same-label vectors),
      // plus the margin between them — the batch-construction
      // primitive behind every triplet/contrastive training loop. All
      // dots are exact integers over 1e-6-quantized coordinates; both
      // argpicks are exact-integer max/min-struct decisions with
      // vec_id tiebreaks, so the mined ids are bit-stable. One
      // corpus-linear pass: the 5 anchors broadcast (≤320 rows of
      // exploded coordinates), dots group by (anchor, vector), two
      // bounded argpick aggs.
      "q_embed_hard_negatives",
      (s, d) => {
        val base = Tables.embeddings(s, d)
          .filter(col("embedding").isNotNull &&
                  size(col("embedding")) === 64)
        // r12 (guide §3.3): qv feeds the anchor extraction AND the dot
        // pass, dots feeds both argpicks — materialize each once per
        // invocation (localCheckpoint, recomputed every invocation)
        val qv = base
          .select(col("vec_id"), col("label"),
                  posexplode(transform(col("embedding"), x =>
                    round(x.cast("double") * 1000000).cast("long")))
                    .as(Seq("j", "q")))
          .localCheckpoint()
        val anchors = base.select(col("vec_id").as("aid"),
                                  col("label").as("albl"))
          .orderBy(col("aid")).limit(5)
        val aqv = qv.join(broadcast(anchors), col("vec_id") === col("aid"))
          .select(col("aid"), col("albl"), col("j").as("aj"),
                  col("q").as("aq"))
        val dots = qv.join(broadcast(aqv), col("j") === col("aj"))
          .filter(col("vec_id") =!= col("aid"))
          .groupBy(col("aid"), col("albl"), col("vec_id"), col("label"))
          .agg(sum((col("q").cast(D38) * col("aq")).cast(D38)).as("dot"))
          .localCheckpoint()
        val hn = dots.filter(col("label") =!= col("albl"))
          .groupBy(col("aid"))
          .agg(max(struct(col("dot"), (-col("vec_id")).as("negid")))
                 .as("b"))
          .select(col("aid").as("_h"), (-col("b.negid")).as("hard_neg_id"),
                  col("b.dot").as("hnd"))
        val hp = dots.filter(col("label") === col("albl"))
          .groupBy(col("aid"))
          .agg(min(struct(col("dot"), col("vec_id").as("pid"))).as("b"))
          .select(col("aid").as("_p"), col("b.pid").as("hard_pos_id"),
                  col("b.dot").as("hpd"))
        anchors.join(hn, col("aid") === col("_h"))
          .join(hp, col("aid") === col("_p"))
          .select(col("aid").as("anchor_id"), col("albl").as("label"),
                  col("hard_neg_id"),
                  col("hnd").cast("long").as("hard_neg_dot"),
                  col("hard_pos_id"),
                  col("hpd").cast("long").as("hard_pos_dot"),
                  (col("hpd") - col("hnd")).cast("long").as("margin"))
          .orderBy(col("anchor_id"))
      },
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x ->
        |      CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |qv AS MATERIALIZED (
        |  SELECT vec_id, label, i - 1 AS j, xq[i] AS q
        |  FROM (SELECT vec_id, label, xq,
        |          unnest(generate_series(1, 64)) AS i FROM e)),
        |anchors AS MATERIALIZED (
        |  SELECT vec_id AS aid, label AS albl FROM e
        |  ORDER BY vec_id LIMIT 5),
        |aqv AS MATERIALIZED (
        |  SELECT a.aid, a.albl, q.j AS aj, q.q AS aq
        |  FROM qv q JOIN anchors a ON q.vec_id = a.aid),
        |dots AS MATERIALIZED (
        |  SELECT v.aid, v.albl, q.vec_id, q.label,
        |    SUM(CAST(q.q AS HUGEINT) * v.aq) AS dot
        |  FROM qv q JOIN aqv v ON q.j = v.aj
        |  WHERE q.vec_id <> v.aid
        |  GROUP BY v.aid, v.albl, q.vec_id, q.label),
        |hn AS (
        |  SELECT aid, vec_id AS hard_neg_id, dot AS hnd FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY aid ORDER BY dot DESC, vec_id) AS rn
        |    FROM dots WHERE label <> albl) WHERE rn = 1),
        |hp AS (
        |  SELECT aid, vec_id AS hard_pos_id, dot AS hpd FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY aid ORDER BY dot, vec_id) AS rn
        |    FROM dots WHERE label = albl) WHERE rn = 1)
        |SELECT a.aid AS anchor_id, a.albl AS label,
        |  hn.hard_neg_id, CAST(hn.hnd AS BIGINT) AS hard_neg_dot,
        |  hp.hard_pos_id, CAST(hp.hpd AS BIGINT) AS hard_pos_dot,
        |  CAST(hp.hpd - hn.hnd AS BIGINT) AS margin
        |FROM anchors a
        |JOIN hn ON a.aid = hn.aid
        |JOIN hp ON a.aid = hp.aid
        |ORDER BY anchor_id""".stripMargin)
  )
}
