package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.6 extension — MODEL-EVALUATION operators: the metrics a
  * retrieval/classification pipeline computes over its own outputs
  * before shipping them (ranking quality of an ANN/BM25 tier,
  * classifier quality of a langid/quality gate). Like the recall
  * report, the evaluated SYSTEM is one of this repo's own declared
  * operators, so the oracle hash certifies the metric values
  * end-to-end — ranker + metric — not a toy fixture.
  *
  * Determinism posture: rankings come from the integer-exact quantized
  * dot product (bit-deterministic, tie-broken on id); NDCG's 1/log2
  * discounts are a FIXED literal table in integer micro-units (the
  * only irrational ingredient, frozen identically into both engines —
  * never computed via each engine's libm); average precision runs on
  * the common denominator lcm(1..10)=2520 so P@i is an exact integer;
  * every emitted ratio goes through intRatio4. Nothing depends on
  * float summation order.
  */
object EvalOps extends OpGroup {

  /** round(10⁶ / log2(i+1)) for i = 1..10 — the NDCG discount table. */
  private val discW =
    Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L)
  /** Prefix sums of [[discW]]: ideal DCG of r relevant docs at top. */
  private val cumW =
    Seq(1000000L, 1630930L, 2130930L, 2561607L, 2948460L,
        3304667L, 3638000L, 3953465L, 4254495L, 4543560L)
  /** 2520 / i (lcm(1..10) = 2520) — exact-integer precision@i units. */
  private val pFac =
    Seq(2520L, 1260L, 840L, 630L, 504L, 420L, 360L, 315L, 280L, 252L)

  private def valuesSql(name: String, cols: String,
                        rows: Seq[String]): String =
    s"$name($cols) AS (VALUES ${rows.mkString(", ")})"

  private val discSql = valuesSql("w", "rn, disc, pfac",
    (1 to 10).map(i => s"($i, ${discW(i - 1)}, ${pFac(i - 1)})"))
  private val cumSql = valuesSql("cw", "r, cumw",
    (1 to 10).map(i => s"($i, ${cumW(i - 1)})"))

  def qs: Seq[Q] = Seq(
    Q(
      // Ranking-quality report (P@10 / MAP@10 / NDCG@10) of the int8-
      // quantized cosine ranker against label-match relevance: for each
      // query vector, rank the collection by exact integer dot product
      // (api.Sim.quantizedTopK, k=10), mark a candidate relevant iff
      // its label equals the query's, and emit the three standard
      // ranking metrics per query — the eval harness that decides
      // whether a quantization/ANN tier is good enough to serve.
      // n_rel is a CATALOG property (all same-label rows minus self,
      // via a label-count agg + broadcast join — never a self-join).
      // IDCG@10 = cumW[min(n_rel,10)]; AP@10 in exact 1/2520 units.
      // Scale shape: the ranker is the pinned broadcast-query ×
      // one-scan shape; everything after rank touches |Q|·k rows.
      "q_eval_ranking",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ranked = graft.api.Sim.quantizedTopK(
          emb, col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10, k = 10)
        val lbl = emb.select(col("vec_id").as("_lid"),
                             col("label").as("_lbl"))
        val rel = ranked
          .join(broadcast(lbl.select(col("_lid").as("_qid"),
                                     col("_lbl").as("_qlbl"))),
                col("q_id") === col("_qid"))
          .join(broadcast(lbl), col("cand_id") === col("_lid"))
          .select(col("q_id"), col("rn").cast("int").as("rn"),
                  coalesce((col("_lbl") === col("_qlbl")).cast("long"),
                           lit(0L)).as("rel"))
        val wCum = Window.partitionBy(col("q_id")).orderBy(col("rn"))
        val g = rel
          .withColumn("hits", sum(col("rel")).over(wCum))
          .groupBy(col("q_id"))
          .agg(sum(col("rel") * element_at(typedLit(discW), col("rn")))
                 .as("_dcg"),
               sum(col("rel") * col("hits") *
                   element_at(typedLit(pFac), col("rn"))).as("_apn"),
               sum(col("rel")).as("n_hit"))
        val labCnt = emb.groupBy(col("label"))
          .agg(count(lit(1)).as("_lc"))
        val nRel = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("_q2"), col("label"))
          .join(broadcast(labCnt), "label")
          .select(col("_q2"), (col("_lc") - 1).as("n_rel"))
        g.join(nRel, col("q_id") === col("_q2"))
          .filter(col("n_rel") > 0)
          .select(col("q_id"), col("n_rel"), col("n_hit"),
                  intRatio4(col("n_hit") * 10000L, lit(10L)).as("p_at_k"),
                  intRatio4(col("_apn") * 10000L,
                            lit(2520L) * least(col("n_rel"), lit(10L)))
                    .as("ap"),
                  intRatio4(col("_dcg") * 10000L,
                            element_at(typedLit(cumW),
                                       least(col("n_rel"), lit(10L))
                                         .cast("int"))).as("ndcg"))
          .orderBy(col("q_id"))
      },
      s"""WITH e AS (
        |  SELECT vec_id, label,
        |    list_max(list_transform(embedding, x -> abs(x))) AS amax,
        |    embedding
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(round(x * (127.0 / CAST(amax AS DOUBLE)))
        |           AS INT)) AS qvec
        |  FROM e WHERE amax > 0),
        |scored AS (
        |  SELECT a.vec_id AS q_id, a.label AS q_lbl,
        |    b.vec_id AS cand_id, b.label AS c_lbl,
        |    CAST(list_sum(list_transform(range(1, len(a.qvec) + 1),
        |      i -> CAST(a.qvec[i] AS BIGINT) * b.qvec[i])) AS BIGINT)
        |      AS qdot
        |  FROM q a JOIN q b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT q_id, q_lbl, cand_id, c_lbl, qdot,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY qdot DESC, cand_id ASC) AS rn
        |  FROM scored),
        |$discSql,
        |$cumSql,
        |rel AS (
        |  SELECT r.q_id, r.rn,
        |    CASE WHEN r.c_lbl = r.q_lbl THEN 1 ELSE 0 END AS rel,
        |    w.disc, w.pfac,
        |    SUM(CASE WHEN r.c_lbl = r.q_lbl THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY r.q_id ORDER BY r.rn) AS hits
        |  FROM ranked r JOIN w ON r.rn = w.rn
        |  WHERE r.rn <= 10),
        |g AS (
        |  SELECT q_id, CAST(SUM(rel * disc) AS BIGINT) AS dcg,
        |    CAST(SUM(rel * hits * pfac) AS BIGINT) AS apn,
        |    CAST(SUM(rel) AS BIGINT) AS n_hit
        |  FROM rel GROUP BY q_id),
        |lc AS (SELECT label, COUNT(*) AS lc FROM embeddings
        |       GROUP BY label),
        |nr AS (
        |  SELECT a.vec_id AS q_id, CAST(lc.lc - 1 AS BIGINT) AS n_rel
        |  FROM embeddings a JOIN lc ON a.label = lc.label
        |  WHERE a.vec_id < 10)
        |SELECT g.q_id, nr.n_rel, g.n_hit,
        |  CAST((2*(g.n_hit*10000) + 10) // 20 AS DOUBLE) / 10000.0
        |    AS p_at_k,
        |  CAST((2*(g.apn*10000) + 2520*least(nr.n_rel, 10))
        |       // (2*2520*least(nr.n_rel, 10)) AS DOUBLE) / 10000.0
        |    AS ap,
        |  CAST((2*(g.dcg*10000) + cw.cumw) // (2*cw.cumw) AS DOUBLE)
        |    / 10000.0 AS ndcg
        |FROM g JOIN nr ON g.q_id = nr.q_id
        |JOIN cw ON cw.r = least(nr.n_rel, 10)
        |WHERE nr.n_rel > 0
        |ORDER BY g.q_id""".stripMargin),

    Q(
      // Classifier-evaluation report: per-class precision / recall / F1
      // of the unigram-profile langid (api.Text.languageId) against the
      // labeled lang column — the metric layer a data-curation gate
      // needs before trusting a classifier to route documents. Derived
      // entirely from the (true, predicted) confusion counts (a ~25-row
      // frame): tp per class, n_true = tp+fn (row margin), n_pred =
      // tp+fp (column margin); docs the classifier abstains on (no
      // profile hit ⇒ NULL predicted, LEFT join) count against recall
      // but inflate no class's precision. F1 avoids fractions-of-
      // fractions via the exact identity F1 = 2·tp/(n_true+n_pred);
      // a never-predicted class reports precision 0 by convention
      // (guarded — intRatio4 would raise on den=0). All ratios exact
      // scale-4 integers; nothing floats until the final /10⁴.
      "q_eval_prf",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pred = graft.api.Text.languageId(
          docs, col("doc_id"), col("text"), col("lang"), profileSize = 5)
        val conf = docs.select(col("doc_id"), col("lang"))
          .join(pred, Seq("doc_id"), "left")
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
        val byTrue = conf.groupBy(col("lang"))
          .agg(sum(col("n")).as("n_true"),
               sum(when(col("predicted") === col("lang"), col("n"))
                 .otherwise(0L)).as("tp"))
        val byPred = conf.filter(col("predicted").isNotNull)
          .groupBy(col("predicted")).agg(sum(col("n")).as("_np"))
        val np = coalesce(col("_np"), lit(0L))
        byTrue.join(byPred, col("lang") === col("predicted"), "left")
          .select(col("lang"), col("n_true"), np.as("n_pred"), col("tp"),
                  when(np > 0, intRatio4(col("tp") * 10000L, np))
                    .otherwise(lit(0.0)).as("precision4"),
                  intRatio4(col("tp") * 10000L, col("n_true"))
                    .as("recall4"),
                  intRatio4(col("tp") * 20000L, col("n_true") + np)
                    .as("f1_4"))
          .orderBy(col("lang"))
      },
      """WITH tokens AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |profile AS (
        |  SELECT lang AS p_lang, term AS p_term FROM (
        |    SELECT lang, term, COUNT(*) AS n,
        |      row_number() OVER (PARTITION BY lang
        |                         ORDER BY COUNT(*) DESC, term ASC) AS rn
        |    FROM tokens GROUP BY lang, term)
        |  WHERE rn <= 5),
        |hits AS (
        |  SELECT t.doc_id, p.p_lang, COUNT(*) AS hits
        |  FROM (SELECT DISTINCT doc_id, term FROM tokens) t
        |  JOIN profile p ON t.term = p.p_term
        |  GROUP BY t.doc_id, p.p_lang),
        |predicted AS (
        |  SELECT doc_id, p_lang AS predicted FROM (
        |    SELECT doc_id, p_lang,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY hits DESC, p_lang ASC) AS rn
        |    FROM hits)
        |  WHERE rn = 1),
        |conf AS (
        |  SELECT d.lang, p.predicted, COUNT(*) AS n
        |  FROM documents d LEFT JOIN predicted p ON d.doc_id = p.doc_id
        |  GROUP BY d.lang, p.predicted),
        |bt AS (
        |  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true,
        |    CAST(SUM(CASE WHEN predicted = lang THEN n ELSE 0 END)
        |      AS BIGINT) AS tp
        |  FROM conf GROUP BY lang),
        |bp AS (
        |  SELECT predicted, CAST(SUM(n) AS BIGINT) AS n_pred
        |  FROM conf WHERE predicted IS NOT NULL GROUP BY predicted)
        |SELECT bt.lang, bt.n_true, COALESCE(bp.n_pred, 0) AS n_pred,
        |  bt.tp,
        |  CASE WHEN COALESCE(bp.n_pred, 0) > 0
        |    THEN CAST((2*(bt.tp*10000) + bp.n_pred) // (2*bp.n_pred)
        |              AS DOUBLE) / 10000.0
        |    ELSE 0.0 END AS precision4,
        |  CAST((2*(bt.tp*10000) + bt.n_true) // (2*bt.n_true) AS DOUBLE)
        |    / 10000.0 AS recall4,
        |  CAST((2*(bt.tp*20000) + (bt.n_true + COALESCE(bp.n_pred, 0)))
        |       // (2*(bt.n_true + COALESCE(bp.n_pred, 0))) AS DOUBLE)
        |    / 10000.0 AS f1_4
        |FROM bt LEFT JOIN bp ON bt.lang = bp.predicted
        |ORDER BY bt.lang""".stripMargin),

    Q(
      // ROC-AUC per source via the tie-corrected rank-sum identity
      // AUC = (R⁺ − n₊(n₊+1)/2)/(n₊n₋) — the threshold-free twin of
      // q_eval_prf's fixed-threshold report (scoring n_chars as a
      // ranker of lang='en'). Tied scores get their textbook AVERAGE
      // rank, but the whole statistic runs in 2×-rank integer units so
      // the .5 average ranks never float: collapse docs to (source,
      // score) blocks first, ONE cumulative window over those tiny
      // blocks yields each block's rank offset, and 2R⁺ = Σ pos_b ·
      // (2·cum_before + cnt + 1) exactly. AUC4 = (2R⁺ − 2·n₊(n₊+1)/2)
      // / (2n₊n₋) through the DECIMAL(38) ratio: 2R⁺ ≤ 2N² leaves
      // int64 around N ≈ 2e9 once 1e4-scaled, so the wide form is the
      // 100 TB-safe choice (intRatio4 would wrap silently).
      // Scale shape: the corpus is touched ONCE by a hash-agg keyed
      // (source, score); the window runs over |distinct scores| rows
      // per source — catalog-sized, never the corpus.
      "q_eval_auc",
      (s, d) => {
        val blocks = Tables.documents(s, d)
          .groupBy(col("source"), col("n_chars"))
          .agg(count(lit(1)).as("cnt"),
               sum((col("lang") === "en").cast("long")).as("pos"))
        val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val g = blocks
          .withColumn("cumb", coalesce(sum(col("cnt")).over(w), lit(0L)))
          .groupBy(col("source"))
          .agg(sum(col("pos") * (col("cumb") * 2 + col("cnt") + 1))
                 .as("r2p"),
               sum(col("pos")).as("n_pos"),
               sum(col("cnt") - col("pos")).as("n_neg"))
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        g.filter(col("n_pos") > 0 && col("n_neg") > 0)
          .select(col("source"), col("n_pos"), col("n_neg"),
                  intRatio4Wide(
                    (col("r2p") - col("n_pos") * (col("n_pos") + 1))
                      .cast(D) * 10000,
                    col("n_pos") * 2 * col("n_neg")).as("auc4"))
          .orderBy(col("source"))
      },
      """WITH b AS (
        |  SELECT source, n_chars, COUNT(*) AS cnt,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
        |  FROM documents GROUP BY source, n_chars),
        |r AS (
        |  SELECT source, cnt, pos,
        |    COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumb
        |  FROM b),
        |g AS (
        |  SELECT source,
        |    SUM(pos * (2 * cumb + cnt + 1)) AS r2p,
        |    SUM(pos) AS n_pos, SUM(cnt - pos) AS n_neg
        |  FROM r GROUP BY source)
        |SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST((2 * ((r2p - n_pos * (n_pos + 1)) * 10000)
        |        + 2 * n_pos * n_neg)
        |       // (2 * (2 * n_pos * n_neg)) AS DOUBLE) / 10000.0 AS auc4
        |FROM g WHERE n_pos > 0 AND n_neg > 0
        |ORDER BY source""".stripMargin),

    Q(
      // Expected-calibration-error report over the quality score: bin
      // docs by the q_text_quality decile bucket, read each bin's
      // CONFIDENCE as its midpoint (2b+1)/20 — the binned-ECE variant
      // whose per-bin gap |n_b·mid_b − pos_b| is an exact integer in
      // 1/20 units, so the headline ECE = Σgap/(20N) carries zero
      // float-summation risk (per-bin mean-of-double-scores would be
      // order-dependent and engine-divergent). Label = lang='en', the
      // same contract as q_eval_auc, so the two reports read together.
      // Scale shape: one scored corpus pass → ≤11-row bin agg; the
      // one-row total CROSS-joins back broadcast (never a second pass).
      "q_eval_calibration",
      (s, d) => {
        val scored = graft.api.Text.qualityScore(
            Tables.documents(s, d), col("text"), col("n_chars"))
          .select(least(floor(col("score") * 10), lit(9)).cast("int")
                    .as("bin"),
                  (col("lang") === "en").cast("long").as("pos1"))
        val bins = scored.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("pos1")).as("pos"))
          .withColumn("gap20",
                      abs(col("n") * (col("bin") * 2 + 1) -
                          col("pos") * 20))
        val tot = bins.agg(sum(col("gap20")).as("_g"),
                           sum(col("n")).as("_n"))
        bins.crossJoin(broadcast(tot))
          .select(col("bin"), col("n"), col("pos"),
                  intRatio4((col("bin") * 2 + 1) * 500L, lit(1L))
                    .as("conf4"),
                  intRatio4(col("pos") * 10000L, col("n")).as("rate4"),
                  intRatio4(col("_g") * 500L, col("_n")).as("ece4"))
          .orderBy(col("bin"))
      },
      """WITH f AS (
        |  SELECT lang,
        |    CAST(n_chars AS DOUBLE) AS chars,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         t -> t = 'the' OR t = 'a')) AS DOUBLE) AS n_stop
        |  FROM documents),
        |sc AS (
        |  SELECT lang,
        |    least(chars / 500.0, 1.0) * 0.4 +
        |    (1.0 - n_stop / n_tok) * 0.3 +
        |    least((chars - n_tok + 1.0) / n_tok / 8.0, 1.0) * 0.3
        |      AS score
        |  FROM f),
        |b AS (
        |  SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
        |    COUNT(*) AS n,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
        |  FROM sc GROUP BY bin),
        |g AS (
        |  SELECT bin, n, pos,
        |    abs(n * (bin * 2 + 1) - pos * 20) AS gap20 FROM b),
        |t AS (SELECT SUM(gap20) AS tg, SUM(n) AS tn FROM g)
        |SELECT bin, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
        |  CAST((2 * ((bin * 2 + 1) * 500) + 1) // 2 AS DOUBLE) / 10000.0
        |    AS conf4,
        |  CAST((2 * (pos * 10000) + n) // (2 * n) AS DOUBLE) / 10000.0
        |    AS rate4,
        |  CAST((2 * (tg * 500) + tn) // (2 * tn) AS DOUBLE) / 10000.0
        |    AS ece4
        |FROM g CROSS JOIN t
        |ORDER BY bin""".stripMargin),

    Q(
      // k-NN majority-vote classification over the embedding space
      // (k=5, int8-quantized exact-integer dot, leave-self-out) with a
      // per-true-label accuracy report — the third leg of the eval
      // family: q_eval_ranking grades the RANKER, q_eval_prf a
      // threshold classifier, this grades the labels-by-neighborhood
      // classifier every semantic-dedup/auto-label pipeline runs.
      // Determinism end-to-end: ranks are the integer-dot heapRank
      // with cand_id tie-break; the VOTE breaks count ties by
      // smallest label (an arbitrary-pick argmax could flap engines).
      // Scale shape: the pinned broadcast-query × one-collection-scan
      // ranker; everything after rank touches |Q|·k rows, votes are a
      // |Q|·labels hash-agg, the report is label-sized.
      "q_sim_knn_classify",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val ranked = graft.api.Sim.quantizedTopK(
          emb, col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 30, k = 5)
        val lbl = emb.select(col("vec_id").as("_lid"),
                             col("label").as("_lbl"))
        val votes = ranked
          .join(broadcast(lbl), col("cand_id") === col("_lid"))
          .groupBy(col("q_id"), col("_lbl").as("vote"))
          .agg(count(lit(1)).as("nv"))
        val wv = Window.partitionBy(col("q_id"))
          .orderBy(col("nv").desc, col("vote").asc)
        val pred = votes.withColumn("rv", row_number().over(wv))
          .filter(col("rv") === 1)
          .select(col("q_id"), col("vote").as("pred"))
        pred.join(broadcast(lbl.select(col("_lid").as("_qid"),
                                       col("_lbl").as("truth"))),
                  col("q_id") === col("_qid"))
          .groupBy(col("truth").as("label"))
          .agg(count(lit(1)).as("n_queries"),
               sum((col("pred") === col("truth")).cast("long"))
                 .as("n_correct"))
          .select(col("label"), col("n_queries"), col("n_correct"),
                  intRatio4(col("n_correct") * 10000L,
                            col("n_queries")).as("acc4"))
          .orderBy(col("label"))
      },
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_max(list_transform(embedding, x -> abs(x))) AS amax,
        |    embedding
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(round(x * (127.0 / CAST(amax AS DOUBLE)))
        |           AS INT)) AS qvec
        |  FROM e WHERE amax > 0),
        |scored AS (
        |  SELECT a.vec_id AS q_id, a.label AS q_lbl,
        |    b.vec_id AS cand_id, b.label AS c_lbl,
        |    CAST(list_sum(list_transform(range(1, len(a.qvec) + 1),
        |      i -> CAST(a.qvec[i] AS BIGINT) * b.qvec[i])) AS BIGINT)
        |      AS qdot
        |  FROM q a JOIN q b ON a.vec_id < 30 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT q_id, q_lbl, c_lbl, qdot,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY qdot DESC, cand_id ASC) AS rn
        |  FROM scored),
        |v AS (
        |  SELECT q_id, q_lbl, c_lbl AS vote, COUNT(*) AS nv
        |  FROM ranked WHERE rn <= 5 GROUP BY q_id, q_lbl, c_lbl),
        |p AS (
        |  SELECT q_id, q_lbl, vote FROM (
        |    SELECT q_id, q_lbl, vote,
        |      row_number() OVER (PARTITION BY q_id
        |                         ORDER BY nv DESC, vote ASC) AS rv
        |    FROM v) WHERE rv = 1)
        |SELECT q_lbl AS label, COUNT(*) AS n_queries,
        |  CAST(SUM(CASE WHEN vote = q_lbl THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_correct,
        |  CAST((2 * (SUM(CASE WHEN vote = q_lbl THEN 1 ELSE 0 END)
        |             * 10000) + COUNT(*))
        |       // (2 * COUNT(*)) AS DOUBLE) / 10000.0 AS acc4
        |FROM p GROUP BY q_lbl ORDER BY label""".stripMargin),

    Q(
      // COHEN'S KAPPA of the langid classifier — chance-corrected
      // agreement, the number that exposes a classifier whose
      // accuracy merely mirrors class priors (q_eval_prf reports raw
      // P/R/F1; κ discounts lucky agreement). Exactly rational: with
      // integer confusion counts, κ = (N·diag − Σrₜsₜ)/(N² − Σrₜsₜ)
      // — marginal products in DECIMAL(38,0), ONE wide half-up
      // division; docs the classifier abstains on are excluded (κ is
      // defined over a square decision matrix) and their count is
      // reported alongside.
      // Scale shape: one confusion hash-agg, class-sized everything
      // after; marginals join on the ≤5-row class dimension.
      "q_eval_kappa",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val docs = Tables.documents(s, d)
        val pred = graft.api.Text.languageId(
          docs, col("doc_id"), col("text"), col("lang"),
          profileSize = 5)
        // r12 (guide §3.3): `j` (the languageId pipeline joined back to
        // the corpus) fed four plan branches — abstentions, and the
        // confusion matrix consumed by rows/cols/tot — so the whole
        // langid profile+argmax pipeline re-planned up to 4×
        // (before-plan: 24 parquet scans). Materialize j projected to
        // its two used columns once per invocation (localCheckpoint —
        // recomputed from parquet every invocation), and the ≤|langs|²
        // confusion matrix once; everything downstream is matrix-sized.
        val j = docs.select(col("doc_id"), col("lang"))
          .join(pred, Seq("doc_id"), "left")
          .select(col("lang"), col("predicted"))
          .localCheckpoint()
        val abst = j.agg(sum(when(col("predicted").isNull, 1L)
          .otherwise(0L)).as("n_abstained"))
        val conf = j.filter(col("predicted").isNotNull)
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint()
        val rows = conf.groupBy(col("lang").as("_t"))
          .agg(sum(col("n")).as("rt"))
        val cols = conf.groupBy(col("predicted").as("_p"))
          .agg(sum(col("n")).as("sp"))
        val marg = rows.join(cols, col("_t") === col("_p"))
          .agg(sum(col("rt").cast(D) * col("sp")).as("src"))
        val tot = conf.agg(
          sum(col("n")).as("nn"),
          sum(when(col("lang") === col("predicted"), col("n"))
            .otherwise(0L)).as("diag"))
        tot.crossJoin(broadcast(marg)).crossJoin(broadcast(abst))
          .select(col("nn").as("n_scored"), col("n_abstained"),
                  col("diag").as("n_agree"),
                  intRatio4Wide(
                    (col("nn").cast(D) * col("diag") - col("src"))
                      * 10000,
                    col("nn").cast(D) * col("nn") - col("src"))
                    .as("kappa4"))
      },
      """WITH tokens AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |profile AS (
        |  SELECT lang AS p_lang, term AS p_term FROM (
        |    SELECT lang, term, COUNT(*) AS n,
        |      row_number() OVER (PARTITION BY lang
        |                         ORDER BY COUNT(*) DESC, term ASC) AS rn
        |    FROM tokens GROUP BY lang, term)
        |  WHERE rn <= 5),
        |hits AS (
        |  SELECT t.doc_id, p.p_lang, COUNT(*) AS hits
        |  FROM (SELECT DISTINCT doc_id, term FROM tokens) t
        |  JOIN profile p ON t.term = p.p_term
        |  GROUP BY t.doc_id, p.p_lang),
        |predicted AS (
        |  SELECT doc_id, p_lang AS predicted FROM (
        |    SELECT doc_id, p_lang,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY hits DESC, p_lang ASC) AS rn
        |    FROM hits)
        |  WHERE rn = 1),
        |j AS (
        |  SELECT d.lang, p.predicted
        |  FROM documents d LEFT JOIN predicted p
        |    ON d.doc_id = p.doc_id),
        |ab AS (
        |  SELECT CAST(SUM(CASE WHEN predicted IS NULL THEN 1 ELSE 0
        |                  END) AS BIGINT) AS n_abstained
        |  FROM j),
        |conf AS (
        |  SELECT lang, predicted, COUNT(*) AS n
        |  FROM j WHERE predicted IS NOT NULL
        |  GROUP BY lang, predicted),
        |r AS (SELECT lang AS t, CAST(SUM(n) AS HUGEINT) AS rt
        |      FROM conf GROUP BY lang),
        |c AS (SELECT predicted AS p, CAST(SUM(n) AS HUGEINT) AS sp
        |      FROM conf GROUP BY predicted),
        |m AS (
        |  SELECT CAST(SUM(rt * sp) AS HUGEINT) AS src
        |  FROM r JOIN c ON r.t = c.p),
        |tt AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(CASE WHEN lang = predicted THEN n ELSE 0 END)
        |         AS BIGINT) AS diag
        |  FROM conf)
        |SELECT nn AS n_scored, ab.n_abstained, diag AS n_agree,
        |  CAST((2 * ((CAST(nn AS HUGEINT) * diag - src) * 10000)
        |        + (CAST(nn AS HUGEINT) * nn - src))
        |       // (2 * (CAST(nn AS HUGEINT) * nn - src)) AS DOUBLE)
        |    / 10000.0 AS kappa4
        |FROM tt CROSS JOIN m CROSS JOIN ab""".stripMargin),

    Q(
      // MATTHEWS correlation (MCC) of "is it English" detection
      // (langid prediction binarized vs the true lang) — the single
      // balanced number for a binary gate that accuracy, F1, and
      // even κ each distort under class imbalance (MCC is the only
      // one symmetric in classes AND errors). From the exact 2×2
      // integer counts: numerator TP·TN − FP·FN and the four
      // marginals stay integral in DECIMAL(38,0); ONE sqrt + one
      // division at the end (identical double tree); a degenerate
      // margin (any factor 0) yields the SAME null on both engines.
      // Abstentions count as "predicted not-English" — binarization
      // makes the decision total, unlike κ's square-matrix scope.
      // Scale shape: one confusion hash-agg to 4 counts; O(1) after.
      "q_eval_mcc",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val docs = Tables.documents(s, d)
        val pred = graft.api.Text.languageId(
          docs, col("doc_id"), col("text"), col("lang"),
          profileSize = 5)
        val j = docs.select(col("doc_id"), col("lang"))
          .join(pred, Seq("doc_id"), "left")
          .select((col("lang") === "en").as("t"),
                  coalesce(col("predicted") === "en", lit(false))
                    .as("p"))
        val g = j.agg(
          sum(when(col("t") && col("p"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("t") && !col("p"), 1L).otherwise(0L)).as("tn"),
          sum(when(!col("t") && col("p"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("t") && !col("p"), 1L).otherwise(0L)).as("fn"))
        val num = col("tp").cast(D) * col("tn") -
                  col("fp").cast(D) * col("fn")
        val den = (col("tp") + col("fp")).cast(D) *
                  (col("tp") + col("fn")) *
                  (col("tn") + col("fp")) * (col("tn") + col("fn"))
        g.select(col("tp"), col("tn"), col("fp"), col("fn"),
                 when(den > 0,
                   r4(num.cast("double") / sqrt(den.cast("double"))))
                   .as("mcc4"))
      },
      """WITH tokens AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |profile AS (
        |  SELECT lang AS p_lang, term AS p_term FROM (
        |    SELECT lang, term, COUNT(*) AS n,
        |      row_number() OVER (PARTITION BY lang
        |                         ORDER BY COUNT(*) DESC, term ASC) AS rn
        |    FROM tokens GROUP BY lang, term)
        |  WHERE rn <= 5),
        |hits AS (
        |  SELECT t.doc_id, p.p_lang, COUNT(*) AS hits
        |  FROM (SELECT DISTINCT doc_id, term FROM tokens) t
        |  JOIN profile p ON t.term = p.p_term
        |  GROUP BY t.doc_id, p.p_lang),
        |predicted AS (
        |  SELECT doc_id, p_lang AS predicted FROM (
        |    SELECT doc_id, p_lang,
        |      row_number() OVER (PARTITION BY doc_id
        |                         ORDER BY hits DESC, p_lang ASC) AS rn
        |    FROM hits)
        |  WHERE rn = 1),
        |j AS (
        |  SELECT d.lang = 'en' AS t,
        |    COALESCE(p.predicted = 'en', FALSE) AS p
        |  FROM documents d LEFT JOIN predicted p
        |    ON d.doc_id = p.doc_id),
        |g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tp,
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
        |         AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)
        |         AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)
        |         AS BIGINT) AS fn
        |  FROM j)
        |SELECT tp, tn, fp, fn,
        |  CASE WHEN CAST(tp + fp AS HUGEINT) * (tp + fn)
        |            * (tn + fp) * (tn + fn) > 0 THEN
        |    round(CAST(CAST(tp AS HUGEINT) * tn
        |               - CAST(fp AS HUGEINT) * fn AS DOUBLE)
        |          / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
        |                      * (tn + fp) * (tn + fn) AS DOUBLE)),
        |          4) + 0
        |  END AS mcc4
        |FROM g""".stripMargin),

    Q(
      // LIFT / GAINS table of the quality score as an 'is it English'
      // ranker: docs ranked by score into 10 equal-count buckets,
      // each bucket's positive rate vs the base rate (lift) plus the
      // cumulative share of positives captured (gains) — the
      // campaign-targeting table every uplift deck shows, and the
      // rank-based completion of q_eval_auc (AUC integrates what
      // this tabulates). Deciles by exact global rank over (score
      // DESC, doc_id) — never ntile-on-floats; lift = pos·N/(n·P)
      // and gains = cum_pos/P are EXACT rationals through the wide
      // half-up division. (The near-1.0 lifts ARE the finding: the
      // quality score barely ranks English — consistent with
      // κ≈0.045.)
      // Scale shape (r7, the REAL de-weakening): the raw quality
      // score is a double of (chars, n_tok, n_stop) whose distinct
      // count GROWS with the corpus (measured 82% of docs at sf0.1) —
      // so r6's group-by-raw-score block CDF was still a corpus-sized
      // single-task sort on diverse data. The ranker quantizes the
      // score to the 1e-4 grid FIRST (the q_curate_lm_gate "gate
      // currency" discipline): score ∈ [0,1] by construction, so the
      // block frame is ≤ 10⁴+1 rows AT ANY CORPUS SIZE — bounded by
      // the grid, not by the data — and the bound is ENFORCED
      // in-plan by Determinism.boundedDomain (cap 10001 = the exact
      // grid cardinality for [0,1]; fails loudly, never degrades).
      // Rank = block base from the cumulative window over those ≤10⁴
      // blocks (broadcast equi-join on the grid value) + within-block
      // row_number from a PARTITIONED window whose partitions are the
      // grid cells. No unpartitioned per-row window anywhere; the
      // only global sorts touch ≤10⁴ blocks and the 10 decile rows.
      //
      // Grid-cell derivation (r8): the cell is NOT round(double, 4) —
      // Spark rounds the shortest-decimal repr HALF_UP via BigDecimal
      // while DuckDB scales by 1e4 under libm, so a score landing on
      // a 1e-4 midpoint (reachable: the inputs are terminating
      // rationals of chars/n_tok/n_stop) could quantize to ADJACENT
      // cells on the two engines, flipping block membership and the
      // global rank. Instead both engines compute the cell as an
      // EXACT INTEGER: with c=min(chars,500), the score is the
      // rational  [8·c·n_tok + 3000·(n_tok−n_stop)
      //            + 375·min(chars−n_tok+1, 8·n_tok)] / (10⁴·n_tok)
      // (= 0.4·min(chars/500,1) + 0.3·(1−n_stop/n_tok)
      //    + 0.3·min((chars−n_tok+1)/(8·n_tok),1) over the common
      // denominator 10⁴·n_tok), so score·10⁴ = num/n_tok and the
      // half-up cell is ⌊(2·num+n_tok)/(2·n_tok)⌋ in pure long
      // division — bit-identical across engines by construction.
      // num ∈ [0, 10⁴·n_tok] (each term is capped), so cell ∈
      // [0, 10⁴]; |num| ≤ 10⁴·n_tok ≤ ~10⁹ fits long with 10⁵× room.
      "q_eval_lift",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val w = split(col("text"), " ")
        val scored = Tables.documents(s, d)
          .select(col("doc_id"),
                  (col("lang") === "en").cast("long").as("pos1"),
                  col("n_chars").cast("long").as("_chars"),
                  size(w).cast("long").as("_ntok"),
                  size(filter(w, t => t === "the" || t === "a"))
                    .cast("long").as("_nstop"))
          .withColumn("_num",
            lit(8L) * least(col("_chars"), lit(500L)) * col("_ntok") +
            lit(3000L) * (col("_ntok") - col("_nstop")) +
            lit(375L) * least(col("_chars") - col("_ntok") + lit(1L),
                              lit(8L) * col("_ntok")))
          .select(col("doc_id"), col("pos1"),
                  expr("(2 * _num + _ntok) div (2 * _ntok)").as("score"))
          // r12 (guide §3.3): feeds the totals, block-CDF, and decile
          // branches — materialize the doc-sized scored frame once
          .localCheckpoint()
        val tot = scored.agg(count(lit(1)).as("_N"),
                             sum(col("pos1")).as("_P"))
        val blocks = boundedDomain(
          scored.groupBy(col("score").as("v"))
            .agg(count(lit(1)).as("_c")),
          "q_eval_lift block CDF", cap = 10001L)
        val wb = Window.orderBy(col("v").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cdf = blocks
          .withColumn("cum", sum(col("_c")).over(wb))
          .select(col("v"), (col("cum") - col("_c")).as("base"))
        val wsc = Window.partitionBy(col("score"))
          .orderBy(col("doc_id"))
        val dec = scored
          .withColumn("wr", row_number().over(wsc).cast("long"))
          .join(broadcast(cdf), col("score") === col("v"))
          .withColumn("rk", col("base") + col("wr"))
          .crossJoin(broadcast(tot))
          .withColumn("decile", expr("((rk - 1) * 10) div _N"))
          .groupBy(col("decile"), col("_N"), col("_P"))
          .agg(count(lit(1)).as("n"), sum(col("pos1")).as("pos"))
        val wc = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dec.withColumn("cpos", sum(col("pos")).over(wc))
          .select(col("decile"), col("n"), col("pos"),
                  intRatio4Wide(
                    col("pos").cast(D) * col("_N") * 10000,
                    col("n").cast(D) * col("_P")).as("lift4"),
                  intRatio4Wide(col("cpos").cast(D) * 10000,
                                col("_P")).as("gains4"))
          .orderBy(col("decile"))
      },
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CAST(n_chars AS BIGINT) AS chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos1,
        |    (2 * (8 * least(chars, 500) * n_tok
        |          + 3000 * (n_tok - n_stop)
        |          + 375 * least(chars - n_tok + 1, 8 * n_tok))
        |     + n_tok) // (2 * n_tok) AS score
        |  FROM f),
        |t AS (SELECT COUNT(*) AS nn, CAST(SUM(pos1) AS BIGINT) AS pp
        |      FROM sc),
        |r AS (
        |  SELECT pos1,
        |    ((row_number() OVER (ORDER BY score DESC, doc_id) - 1)
        |     * 10) // t.nn AS decile,
        |    t.nn, t.pp
        |  FROM sc CROSS JOIN t),
        |g AS (
        |  SELECT decile, nn, pp, COUNT(*) AS n,
        |    CAST(SUM(pos1) AS BIGINT) AS pos
        |  FROM r GROUP BY decile, nn, pp),
        |c AS (
        |  SELECT decile, n, pos, nn, pp,
        |    SUM(pos) OVER (ORDER BY decile
        |                   ROWS BETWEEN UNBOUNDED PRECEDING
        |                   AND CURRENT ROW) AS cpos
        |  FROM g)
        |SELECT decile, n, pos,
        |  CAST((2 * (CAST(pos AS HUGEINT) * nn * 10000)
        |        + CAST(n AS HUGEINT) * pp)
        |       // (2 * (CAST(n AS HUGEINT) * pp)) AS DOUBLE)
        |    / 10000.0 AS lift4,
        |  CAST((2 * (CAST(cpos AS HUGEINT) * 10000) + pp)
        |       // (2 * CAST(pp AS HUGEINT)) AS DOUBLE) / 10000.0
        |    AS gains4
        |FROM c ORDER BY decile""".stripMargin),

    Q(
      // BRIER score of the binned quality-score "probability" against
      // the English label — the proper scoring rule that completes
      // the calibration triple (ECE measures miscalibration, the
      // isotonic fit repairs it, Brier scores the whole forecast):
      // with bin-midpoint confidences on the exact 1/20 grid,
      // (p−y)·20 = 2b+1−20y is an INTEGER per doc, so Brier =
      // Σ(2b+1−20y)²/(400N) is one wide half-up division — the
      // squared-error score with zero float accumulation. Also emits
      // the all-base-rate reference Brier (predicting P/N for every
      // doc) — the skill bar a useful forecaster must beat —
      // computed from the same exact counts.
      // Scale shape: one scored pass + one conditional hash-agg;
      // O(1) after.
      "q_eval_brier",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val scored = graft.api.Text.qualityScore(
            Tables.documents(s, d), col("text"), col("n_chars"))
          .select((least(floor(col("score") * 10), lit(9)) * 2 + 1)
                    .cast("long").as("m20"),
                  (col("lang") === "en").cast("long").as("y"))
        val g = scored.agg(
          count(lit(1)).as("n"), sum(col("y")).as("p"),
          sum((col("m20") - col("y") * 20) *
              (col("m20") - col("y") * 20)).as("ss"))
        g.select(col("n"), col("p"),
                 intRatio4Wide(col("ss").cast(D) * 10000,
                               col("n").cast(D) * 400).as("brier4"),
                 // reference: predict the base rate p̂=P/N for all →
                 // Brier_ref = p̂(1−p̂) = P(N−P)/N² exactly
                 intRatio4Wide(
                   col("p").cast(D) * (col("n") - col("p")) * 10000,
                   col("n").cast(D) * col("n")).as("brier_ref4"))
      },
      """WITH f AS (
        |  SELECT lang,
        |    CAST(n_chars AS DOUBLE) AS chars,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         t -> t = 'the' OR t = 'a')) AS DOUBLE) AS n_stop
        |  FROM documents),
        |sc AS (
        |  SELECT
        |    CAST(least(floor((least(chars / 500.0, 1.0) * 0.4 +
        |      (1.0 - n_stop / n_tok) * 0.3 +
        |      least((chars - n_tok + 1.0) / n_tok / 8.0, 1.0) * 0.3)
        |      * 10), 9) * 2 + 1 AS BIGINT) AS m20,
        |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT)
        |      AS y
        |  FROM f),
        |g AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS p,
        |    CAST(SUM((m20 - y * 20) * (m20 - y * 20)) AS HUGEINT)
        |      AS ss
        |  FROM sc)
        |SELECT n, p,
        |  CAST((2 * (ss * 10000) + CAST(n AS HUGEINT) * 400)
        |       // (2 * (CAST(n AS HUGEINT) * 400)) AS DOUBLE)
        |    / 10000.0 AS brier4,
        |  CAST((2 * (CAST(p AS HUGEINT) * (n - p) * 10000)
        |        + CAST(n AS HUGEINT) * n)
        |       // (2 * (CAST(n AS HUGEINT) * n)) AS DOUBLE) / 10000.0
        |    AS brier_ref4
        |FROM g""".stripMargin)
  )
}
