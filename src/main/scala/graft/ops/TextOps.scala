package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** SURVEY north-star text-analysis operators over `documents`:
  * language ID (term-profile heuristic), quality scoring, token counting
  * (whitespace + BPE-ish subword estimate), and rolling-hash document
  * fingerprinting. All pure relational/higher-order-function plans —
  * explode + hash-agg + small-per-group windows — so they scale linearly
  * and shuffle only on (lang/term/doc) keys.
  *
  * Determinism: scores mix integer counts with IEEE double arithmetic
  * only through exactly-rounded ops (+,*,/) on identical inputs, so both
  * engines produce bit-identical doubles; hashes are integer-only. */
object TextOps extends OpGroup {

  def qs: Seq[Q] = Seq(
    Q(
      // Gopher-style repetition quality metrics: a doc whose 2-/3-grams
      // repeat heavily is boilerplate/spam — dup-n-gram fraction
      //   f_n = 1 − distinct n-grams / total n-grams
      // per doc, aggregated per lang. Deterministic at any parallelism:
      // the corpus rates divide INTEGER sums (no float-summation order
      // sensitivity), max/count compare bit-identical IEEE doubles.
      // Tokenization = the canonical shingle-family tokenizer
      // (Dedup.tokens / toksSql), n-grams = Dedup.shingleExpr — the one
      // definition shared with minhash/jaccard/contamination.
      "q_text_repetition",
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("lang"),
                  graft.api.Dedup.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("lang"),
                  (size(col("w")) - 1).as("n2"),
                  size(expr(graft.api.Dedup.shingleExpr(2))).as("d2"),
                  (size(col("w")) - 2).as("n3"),
                  size(expr(graft.api.Dedup.shingleExpr(3))).as("d3"))
          .withColumn("f2",
            lit(1.0) - col("d2").cast("double") / col("n2"))
        t.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               r4(lit(1.0) -
                 sum(col("d2")).cast("double") / sum(col("n2")))
                 .as("dup2_rate"),
               r4(max(col("f2"))).as("max_dup2"),
               sum(when(col("f2") > 0.1, 1).otherwise(0)).cast("bigint")
                 .as("n_repetitive"),
               r4(lit(1.0) -
                 sum(col("d3")).cast("double") / sum(col("n3")))
                 .as("dup3_rate"))
          .orderBy(col("lang"))
      },
      s"""WITH t AS (
        |  SELECT lang, ${toksSql("text")} AS w FROM documents),
        |g AS (
        |  SELECT lang,
        |    len(w) - 1 AS n2,
        |    len(list_distinct(list_transform(range(0, len(w) - 1),
        |      i -> concat_ws(' ', w[i+1], w[i+2])))) AS d2,
        |    len(w) - 2 AS n3,
        |    len(list_distinct(list_transform(range(0, len(w) - 2),
        |      i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])))) AS d3
        |  FROM t WHERE len(w) >= 3),
        |f AS (
        |  SELECT lang, n2, d2, n3, d3,
        |    1.0 - CAST(d2 AS DOUBLE) / n2 AS f2
        |  FROM g)
        |SELECT lang, COUNT(*) AS n_docs,
        |  round(1.0 - CAST(SUM(d2) AS DOUBLE) / SUM(n2), 4) + 0 AS dup2_rate,
        |  round(MAX(f2), 4) + 0 AS max_dup2,
        |  COUNT(CASE WHEN f2 > 0.1 THEN 1 END) AS n_repetitive,
        |  round(1.0 - CAST(SUM(d3) AS DOUBLE) / SUM(n3), 4) + 0 AS dup3_rate
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // unigram-profile language ID: build top-5 term profiles per lang
      // from the corpus, score each doc by profile hits over its distinct
      // tokens, predict argmax(hits) (tiebreak lang asc), emit the
      // confusion matrix. Profile join is broadcast-small (25 rows).
      "q_text_langid",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val predicted = graft.api.Text.languageId(
          docs, col("doc_id"), col("text"), col("lang"), profileSize = 5)
        docs.select(col("doc_id"), col("lang"))
          .join(predicted, "doc_id")
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("predicted"))
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
        |  WHERE rn = 1)
        |SELECT d.lang, p.predicted, COUNT(*) AS n_docs
        |FROM documents d JOIN predicted p ON d.doc_id = p.doc_id
        |GROUP BY d.lang, p.predicted
        |ORDER BY d.lang, p.predicted""".stripMargin),

    Q(
      // doc quality score: length saturation, stopword ratio, mean word
      // length — weighted blend, bucketed histogram per lang.
      "q_text_quality",
      (s, d) => graft.api.Text.qualityScore(
          Tables.documents(s, d), col("text"), col("n_chars"))
        .withColumn("bucket", floor(col("score") * 10).cast("int"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("bucket")),
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
        |    least((chars - n_tok + 1.0) / n_tok / 8.0, 1.0) * 0.3 AS score
        |  FROM f)
        |SELECT lang, CAST(floor(score * 10) AS INT) AS bucket,
        |  COUNT(*) AS n_docs
        |FROM sc GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin),

    Q(
      // token counting: whitespace tokens + a BPE-ish subword estimate
      // (ceil(len/4) units per word — the "~4 chars per token" rule used
      // to size LLM training corpora; integer math, so exactly portable).
      "q_text_tokens",
      (s, d) => graft.api.Text.tokenCounts(
          Tables.documents(s, d), col("text"), charsPerTok = 4.0)
        .groupBy(col("lang"))
        .agg(sum(col("n_ws")).as("ws_tokens"),
             sum(col("n_bpe")).as("bpe_tokens"),
             avg4(sum(col("n_bpe")), count(lit(1))).as("avg_bpe_per_doc"))
        .orderBy(col("lang")),
      """WITH t AS (
        |  SELECT lang,
        |    len(string_split(text, ' ')) AS n_ws,
        |    list_sum(list_transform(string_split(text, ' '),
        |      w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS n_bpe
        |  FROM documents)
        |SELECT lang, CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
        |  round(CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*), 4) + 0 AS avg_bpe_per_doc
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // fuzzy matching primitive: edit distance of each customer name to
      // a probe string, bucketed — levenshtein() is exact integer math
      // in both engines (the 100 TB use: blocking-key join + editdist
      // confirm, same shape as the LSH-prune + cosine-confirm pattern)
      "q_fn_levenshtein",
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"),
                levenshtein(col("c_name"), lit("customer 42")).as("dist"))
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("first_key"))
        .orderBy(col("dist")),
      """SELECT levenshtein(c_name, 'customer 42') AS dist,
        |  COUNT(*) AS n, MIN(c_custkey) AS first_key
        |FROM customer GROUP BY dist ORDER BY dist""".stripMargin),

    Q(
      "q_text_zipf",
      (s, d) => {
        // Zipf exponent per language: OLS slope of ln(freq) on
        // ln(rank) over the top-20 terms — the one-number lexical
        // health check (natural text ≈ 1; templated/boilerplate
        // corpora collapse toward 0, spam inflates it). Float sums
        // of ln() terms are ORDER-dependent, so both engines
        // accumulate them with a cumulative window in the SAME frame
        // order (rank asc — the q_events_survival posture) and read
        // the final row; slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), r4
        // absorbing the per-term libm ulp. Scale shape: the corpus
        // collapses to (lang, term) counts in one hash-agg; ranking
        // and the regression run on the 20-row-per-lang domain.
        val tf = Tables.documents(s, d)
          .select(col("lang"),
                  explode(graft.api.Dedup.tokens(col("text")))
                    .as("term"))
          .groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("cnt"))
        val wr = Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("term").asc)
        val top = tf.withColumn("rn", row_number().over(wr))
          .filter(col("rn") <= 20)
          .select(col("lang"), col("rn"),
                  log(col("rn").cast("double")).as("x"),
                  log(col("cnt").cast("double")).as("y"))
        val wc = Window.partitionBy(col("lang")).orderBy(col("rn"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wall = Window.partitionBy(col("lang"))
        val cum = top
          .withColumn("sx", sum(col("x")).over(wc))
          .withColumn("sy", sum(col("y")).over(wc))
          .withColumn("sxy", sum(col("x") * col("y")).over(wc))
          .withColumn("sxx", sum(col("x") * col("x")).over(wc))
          .withColumn("mx", max(col("rn")).over(wall))
        cum.filter(col("rn") === col("mx"))
          .select(col("lang"), col("mx").cast("long").as("n_terms"),
                  r4(-((col("mx") * col("sxy") - col("sx") * col("sy"))
                       / (col("mx") * col("sxx") -
                          col("sx") * col("sx")))).as("zipf4"))
          .orderBy(col("lang"))
      },
      s"""WITH tf AS (
        |  SELECT lang, unnest(${toksSql("text")}) AS term
        |  FROM documents),
        |cnts AS (
        |  SELECT lang, term, COUNT(*) AS cnt
        |  FROM tf GROUP BY lang, term),
        |top AS (
        |  SELECT lang, rn,
        |    ln(CAST(rn AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM (
        |    SELECT lang, cnt,
        |      row_number() OVER (PARTITION BY lang
        |                         ORDER BY cnt DESC, term ASC) AS rn
        |    FROM cnts)
        |  WHERE rn <= 20),
        |cum AS (
        |  SELECT lang, rn,
        |    SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
        |    SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx,
        |    MAX(rn) OVER (PARTITION BY lang) AS mx
        |  FROM top
        |  WINDOW w AS (PARTITION BY lang ORDER BY rn
        |               ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND CURRENT ROW))
        |SELECT lang, CAST(mx AS BIGINT) AS n_terms,
        |  round(-((mx * sxy - sx * sy) / (mx * sxx - sx * sx)), 4) + 0
        |    AS zipf4
        |FROM cum WHERE rn = mx
        |ORDER BY lang""".stripMargin),

    Q(
      // Term BURSTINESS (Fano factor / variance-to-mean ratio of
      // per-doc counts, zeros included) for each language's top-10
      // terms — the Church–Gale dispersion diagnostic: function words
      // sit near VMR≈1 (Poisson), topical/template terms burst ≫1;
      // the signal behind stopword lists and boilerplate suspicion
      // that raw frequency (zipf, topterms) cannot see. Exact via
      // VMR = (nQ − S²)/((n−1)S) on integer moments S=Σc, Q=Σc² —
      // zero-count docs enter through n alone, so the all-docs frame
      // is never materialized; one wide half-up division per term.
      // Scale shape: explode → (lang,term,doc) hash-agg (the tfidf
      // exchange) → term-sized moment agg; lang doc-counts broadcast.
      "q_text_burstiness",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val tc = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
                  explode(graft.api.Dedup.tokens(col("text")))
                    .as("term"))
          .groupBy(col("lang"), col("term"), col("doc_id"))
          .agg(count(lit(1)).as("c"))
        val ag = tc.groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("ndw"), sum(col("c")).as("s"),
               sum(col("c") * col("c")).as("q"))
        val nl = Tables.documents(s, d).groupBy(col("lang"))
          .agg(count(lit(1)).as("nd"))
          .select(col("lang").as("_l"), col("nd"))
        val wr = Window.partitionBy(col("lang"))
          .orderBy(col("s").desc, col("term").asc)
        ag.join(broadcast(nl), col("lang") === col("_l"))
          .withColumn("rn", row_number().over(wr))
          .filter(col("rn") <= 10)
          .select(col("lang"), col("term"), col("ndw"), col("s"),
                  intRatio4Wide(
                    (col("nd").cast(D) * col("q") -
                     col("s").cast(D) * col("s")) * 10000,
                    (col("nd") - 1).cast(D) * col("s")).as("vmr4"))
          .orderBy(col("lang"), col("s").desc, col("term"))
      },
      s"""WITH t0 AS (
        |  SELECT lang, doc_id, unnest(${toksSql("text")}) AS term
        |  FROM documents),
        |tc AS (
        |  SELECT lang, term, doc_id, COUNT(*) AS c
        |  FROM t0 GROUP BY lang, term, doc_id),
        |ag AS (
        |  SELECT lang, term, COUNT(*) AS ndw,
        |    CAST(SUM(c) AS HUGEINT) AS s,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q
        |  FROM tc GROUP BY lang, term),
        |nl AS (SELECT lang, COUNT(*) AS nd FROM documents
        |       GROUP BY lang),
        |top AS (
        |  SELECT ag.lang, term, ndw, s, q, nd,
        |    row_number() OVER (PARTITION BY ag.lang
        |                       ORDER BY s DESC, term ASC) AS rn
        |  FROM ag JOIN nl ON ag.lang = nl.lang)
        |SELECT lang, term, CAST(ndw AS BIGINT) AS ndw,
        |  CAST(s AS BIGINT) AS s,
        |  CAST((2 * ((nd * q - s * s) * 10000) + (nd - 1) * s)
        |       // (2 * ((nd - 1) * s)) AS DOUBLE) / 10000.0 AS vmr4
        |FROM top WHERE rn <= 10
        |ORDER BY lang, s DESC, term""".stripMargin),

    Q(
      // Lexicon-scored POLARITY gate (the VADER/AFINN pipeline stage
      // with the lexicon FROZEN as literals — the frozen-constant
      // discipline of the NDCG/Tukey rows; a real deployment swaps
      // the word lists, the machinery is identical): net score = #pos
      // − #neg token hits per doc against {fast, big}/{slow, small},
      // docs classified pos/neg/neutral, per-lang mean net in exact
      // 1e-4. Everything integer counts; THE shared tokenizer, so
      // polarity and dedup agree on what a token is.
      // Scale shape: one explode + conditional hash-agg per doc, one
      // lang-sized rollup; no join anywhere.
      "q_text_polarity",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
                  explode(graft.api.Dedup.tokens(col("text")))
                    .as("w"))
        val perDoc = tok.groupBy(col("doc_id"), col("lang"))
          .agg(sum(when(col("w").isin("fast", "big"), 1L)
                     .when(col("w").isin("slow", "small"), -1L)
                     .otherwise(0L)).as("net"))
        perDoc.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("net") > 0, 1L).otherwise(0L)).as("n_pos"),
               sum(when(col("net") < 0, 1L).otherwise(0L)).as("n_neg"),
               sum(col("net")).as("_tot"))
          .select(col("lang"), col("n_docs"), col("n_pos"),
                  col("n_neg"),
                  intRatio4(col("_tot") * 10000L, col("n_docs"))
                    .as("mean_net4"))
          .orderBy(col("lang"))
      },
      s"""WITH tok AS (
        |  SELECT doc_id, lang, unnest(${toksSql("text")}) AS w
        |  FROM documents),
        |pd AS (
        |  SELECT doc_id, lang,
        |    CAST(SUM(CASE WHEN w IN ('fast', 'big') THEN 1
        |                  WHEN w IN ('slow', 'small') THEN -1
        |                  ELSE 0 END) AS BIGINT) AS net
        |  FROM tok GROUP BY doc_id, lang)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN net > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos,
        |  CAST(SUM(CASE WHEN net < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_neg,
        |  CASE WHEN SUM(net) >= 0 THEN
        |    CAST((2 * (SUM(net) * 10000) + COUNT(*))
        |         // (2 * COUNT(*)) AS DOUBLE) / 10000.0
        |  ELSE
        |    -(CAST((2 * (-(SUM(net)) * 10000) + COUNT(*))
        |           // (2 * COUNT(*)) AS DOUBLE) / 10000.0)
        |  END AS mean_net4
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // HEAPS'-LAW vocabulary growth curve on the 3-GRAM vocabulary:
      // distinct trigram count after the first k docs (doc_id order)
      // at doubling checkpoints — the sublinear V(n) ≈ K·n^β curve
      // that says whether a crawl is still finding NEW language or
      // re-serving itself (the corpus-level twin of q_text_novelty's
      // per-source rate, and the empirical basis for vocab/context
      // planning). Trigrams, not unigrams: the fixture's closed
      // ~31-word unigram vocabulary saturates by doc 25 — a flat
      // curve verifying nothing — while the combinatorial 3-gram
      // space keeps growing at every SF. Exact: each gram reduces to
      // its FIRST-occurrence doc (one min agg — never a per-prefix
      // rescan); checkpoints count first-occurrences ≤ k.
      // Scale shape: shingle map-side → one (gram) min hash-agg →
      // the ≤7 checkpoint counts ride that agg as conditional sums —
      // the corpus is scanned ONCE for any number of checkpoints.
      "q_text_heaps",
      (s, d) => {
        val first = Tables.documents(s, d)
          .select(col("doc_id"),
                  graft.api.Dedup.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), explode(expr(
            "array_distinct(transform(sequence(0, size(w) - 3), " +
              "i -> concat_ws(' ', w[i], w[i+1], w[i+2])))")).as("g"))
          .groupBy(col("g"))
          .agg(min(col("doc_id")).as("fd"))
        val ks = Seq(25L, 50L, 100L, 200L, 400L, 800L, 1600L)
        val aggs = ks.zipWithIndex.map { case (k, i) =>
          sum(when(col("fd") <= k, 1L).otherwise(0L)).as(s"_v$i") }
        val stackArgs = ks.zipWithIndex
          .map { case (k, i) => s"${k}L, _v$i" }.mkString(", ")
        first.agg(aggs.head, aggs.tail: _*)
          .select(expr(
            s"stack(${ks.size}, $stackArgs) AS (k_docs, vocab)"))
          .orderBy(col("k_docs"))
      },
      s"""WITH tok AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents),
        |t AS (
        |  SELECT DISTINCT doc_id,
        |    concat(w[i+1], ' ', w[i+2], ' ', w[i+3]) AS g
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
        |        FROM tok WHERE len(w) >= 3)),
        |f AS (SELECT g, MIN(doc_id) AS fd FROM t GROUP BY g),
        |k(k_docs) AS (VALUES (25), (50), (100), (200), (400),
        |                     (800), (1600))
        |SELECT CAST(k_docs AS BIGINT) AS k_docs,
        |  CAST(SUM(CASE WHEN f.fd <= k_docs THEN 1 ELSE 0 END)
        |       AS BIGINT) AS vocab
        |FROM k CROSS JOIN f
        |GROUP BY k_docs ORDER BY k_docs""".stripMargin),

    Q(
      // SIMPSON diversity of each language's term distribution — the
      // "probability two random tokens differ" concentration number
      // (ecology's D, economics' 1−HHI) next to Shannon entropy
      // (q_text_entropy), but EXACTLY computable where entropy needs
      // logs: the unbiased estimator D = 1 − Σc(c−1)/(N(N−1)) is a
      // pure integer ratio — Σc(c−1) in DECIMAL(38,0), ONE wide
      // half-up division, no libm anywhere.
      // Scale shape: one (lang, term) hash-agg, one lang rollup.
      "q_text_simpson",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val tc = Tables.documents(s, d)
          .select(col("lang"),
                  explode(graft.api.Dedup.tokens(col("text")))
                    .as("term"))
          .groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("c"))
        tc.groupBy(col("lang"))
          .agg(sum(col("c")).as("n_tokens"),
               count(lit(1)).as("vocab"),
               sum(col("c").cast(D) * (col("c") - 1)).as("_ss"))
          .select(col("lang"), col("n_tokens"), col("vocab"),
                  intRatio4Wide(
                    (col("n_tokens").cast(D) * (col("n_tokens") - 1) -
                     col("_ss")) * 10000,
                    col("n_tokens").cast(D) * (col("n_tokens") - 1))
                    .as("simpson_d4"))
          .orderBy(col("lang"))
      },
      s"""WITH tc AS (
        |  SELECT lang, unnest(${toksSql("text")}) AS term
        |  FROM documents),
        |c AS (
        |  SELECT lang, term, COUNT(*) AS c
        |  FROM tc GROUP BY lang, term),
        |g AS (
        |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS vocab,
        |    CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS ss
        |  FROM c GROUP BY lang)
        |SELECT lang, n_tokens, vocab,
        |  CAST((2 * ((CAST(n_tokens AS HUGEINT) * (n_tokens - 1) - ss)
        |             * 10000)
        |        + CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
        |       // (2 * (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)))
        |       AS DOUBLE) / 10000.0 AS simpson_d4
        |FROM g ORDER BY lang""".stripMargin),

    Q(
      // HEAD-COVERAGE of the 3-gram distribution: what share of all
      // trigram OCCURRENCES the top-100 / top-1000 grams carry — the
      // sizing number for caches, codebooks, and truncated
      // vocabularies ("how much of the stream does a head table
      // absorb"), the mass-weighted complement of Heaps' distinct
      // counting. Head mass via the bounded-heap `topk_by_long`
      // aggregate, NOT a vocabulary-wide rank window: the cutoff sum
      // only needs the top-1000 COUNTS, and equal-count grams at the
      // boundary contribute the same mass whichever the tiebreak
      // admits, so sum-over-top-k is tiebreak-invariant and the
      // oracle's (count DESC, gram ASC) ranking agrees exactly.
      // Shares exact half-up integer ratios.
      // Scale shape: one gram hash-agg, then ONE agg with map-side
      // 1000-slot heap partials — no single-partition sort even when
      // the trigram vocabulary grows with the corpus (q_text_heaps
      // shows it does); 1-row output.
      "q_text_head_coverage",
      (s, d) => {
        graft.functions.TopKByLong.register(s)
        val tok = Tables.documents(s, d)
          .select(graft.api.Dedup.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 3)
          .select(explode(expr(
            "transform(sequence(0, size(w) - 3), " +
              "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("g"))
        val cnt = tok.groupBy(col("g")).agg(count(lit(1)).as("c"))
        cnt.agg(count(lit(1)).as("n_grams"),
                sum(col("c")).as("total_occ"),
                expr("topk_by_long(c, c, 1000)").as("_top"))
          .select(col("n_grams"), col("total_occ"),
                  intRatio4(
                    expr("aggregate(slice(_top, 1, 100), 0L," +
                      " (a, x) -> a + x)") * 10000L,
                    col("total_occ")).as("top100_share4"),
                  intRatio4(
                    expr("aggregate(_top, 0L, (a, x) -> a + x)") * 10000L,
                    col("total_occ")).as("top1000_share4"))
      },
      s"""WITH tok AS (
        |  SELECT ${toksSql("text")} AS w FROM documents),
        |t AS (
        |  SELECT concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS g
        |  FROM (SELECT w, unnest(range(0, len(w) - 2)) AS i
        |        FROM tok WHERE len(w) >= 3)),
        |c AS (SELECT g, COUNT(*) AS c FROM t GROUP BY g),
        |r AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, g ASC) AS rk
        |  FROM c),
        |a AS (
        |  SELECT COUNT(*) AS n_grams,
        |    CAST(SUM(c) AS BIGINT) AS total_occ,
        |    CAST(SUM(CASE WHEN rk <= 100 THEN c ELSE 0 END)
        |         AS BIGINT) AS t100,
        |    CAST(SUM(CASE WHEN rk <= 1000 THEN c ELSE 0 END)
        |         AS BIGINT) AS t1000
        |  FROM r)
        |SELECT n_grams, total_occ,
        |  CAST((2 * (t100 * 10000) + total_occ) // (2 * total_occ)
        |       AS DOUBLE) / 10000.0 AS top100_share4,
        |  CAST((2 * (t1000 * 10000) + total_occ) // (2 * total_occ)
        |       AS DOUBLE) / 10000.0 AS top1000_share4
        |FROM a""".stripMargin),

    Q(
      // rolling-hash document fingerprint: position-weighted polynomial
      // hash over md5-derived word values, mod 2^31-1 — pure integer
      // math, identical in both engines. Fingerprint collisions = exact
      // (or reordered-within-period) duplicate candidates.
      // v(word) in 0..255 from two md5 hex digits; weight 31^(i mod 8)
      // (31^k is exactly representable for k<=7, so the double->long
      // cast is identical under Spark's truncation and DuckDB's round)
      "q_text_fingerprint",
      (s, d) => graft.api.Text.fingerprint(
          Tables.documents(s, d), col("text"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("fp")),
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |v AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(1, len(w) + 1), i ->
        |      CAST((instr('0123456789abcdef', substr(md5(w[i]), 1, 1)) - 1) * 16
        |         + (instr('0123456789abcdef', substr(md5(w[i]), 2, 1)) - 1)
        |        AS BIGINT)
        |      * CAST(pow(31.0, (i - 1) % 8) AS BIGINT)))
        |    % 2147483647 AS fp0
        |  FROM w)
        |SELECT CAST(fp0 AS BIGINT) AS fp, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS first_doc
        |FROM v GROUP BY fp ORDER BY fp""".stripMargin),

    Q(
      // cross-document duplicated-n-gram fraction (RefinedWeb filter;
      // api.Text.dupNgramStats): share of each doc's distinct 3-grams
      // occurring in ≥2 docs, rolled up per source. Distinct from
      // q_text_repetition (within-doc) and q_text_boilerplate (tiny
      // frac-df hot set): the dup set here is corpus-sized, so the df
      // attaches via ONE window over partition-by-shingle — no
      // broadcast, no second content shuffle (pinned in PlanSpec).
      "q_text_dup_ngrams",
      (s, d) => graft.api.Text.dupNgramStats(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
                                        col("text")),
          id = col("doc_id"), text = col("text"), n = 3)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
              "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             r4(sum(col("n_dup").cast("double") / col("n_sh")) /
                count(lit(1))).as("avg_dup_frac"),
             sum(when(col("n_dup").cast("double") / col("n_sh") > 0.5, 1L)
                 .otherwise(0L)).as("n_heavy"))
        .orderBy(col("source")),
      s"""WITH tok AS (
        |  SELECT doc_id, source, ${toksSql("text")} AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    concat(w[i+1], ' ', w[i+2], ' ', w[i+3]) AS sh
        |  FROM (SELECT doc_id, source, w, unnest(range(0, len(w)-2)) AS i
        |        FROM tok WHERE len(w) >= 3)),
        |d AS (SELECT sh, COUNT(*) AS n_docs FROM sh GROUP BY sh),
        |per AS (
        |  SELECT s.doc_id, s.source, COUNT(*) AS n_sh,
        |    SUM(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM sh s JOIN d ON s.sh = d.sh
        |  GROUP BY s.doc_id, s.source)
        |SELECT source, COUNT(*) AS n_docs,
        |  ROUND(SUM(CAST(n_dup AS DOUBLE) / n_sh) / COUNT(*), 4) + 0
        |    AS avg_dup_frac,
        |  CAST(SUM(CASE WHEN CAST(n_dup AS DOUBLE) / n_sh > 0.5
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy
        |FROM per GROUP BY source ORDER BY source""".stripMargin),

    Q(
      // Gopher-style hard quality gate (api.Text.qualityGate): word
      // count, mean word length, stopword fraction, bigram repetition —
      // per-rule fail counts and the overall pass rate per source.
      // Thresholds chosen non-vacuous on the fixture (every counter has
      // both passing and failing docs at sf0.01). Entirely map-side;
      // the only shuffle is the final rollup.
      "q_text_quality_gate",
      (s, d) => graft.api.Text.qualityGate(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
                                        col("text")),
          text = col("text"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
             sum(when(col("pass_len"), 0L).otherwise(1L)).as("n_fail_len"),
             sum(when(col("pass_wl"), 0L).otherwise(1L)).as("n_fail_wl"),
             sum(when(col("pass_stop"), 0L).otherwise(1L)).as("n_fail_stop"),
             sum(when(col("pass_rep"), 0L).otherwise(1L)).as("n_fail_rep"))
        .orderBy(col("source")),
      s"""WITH f AS (
        |  SELECT source, ${toksSql("text")} AS w FROM documents),
        |m AS (
        |  SELECT source, len(w) AS n_words,
        |    CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
        |      / len(w) AS mean_wl,
        |    CAST(len(list_filter(w, t -> t = 'the' OR t = 'a')) AS DOUBLE)
        |      / len(w) AS stop_frac,
        |    CASE WHEN len(w) >= 2 THEN
        |      1.0 - CAST(len(list_distinct(list_transform(
        |        range(0, len(w) - 1), i -> concat(w[i+1], ' ', w[i+2]))))
        |        AS DOUBLE) / (len(w) - 1)
        |    ELSE 0.0 END AS dup2
        |  FROM f),
        |r AS (
        |  SELECT source,
        |    (n_words BETWEEN 20 AND 90) AS pass_len,
        |    (mean_wl >= 4.0 AND mean_wl <= 5.0) AS pass_wl,
        |    (stop_frac >= 0.01) AS pass_stop,
        |    (dup2 <= 0.06) AS pass_rep
        |  FROM m)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN pass_len AND pass_wl AND pass_stop AND pass_rep
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(SUM(CASE WHEN pass_len THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_len,
        |  CAST(SUM(CASE WHEN pass_wl THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_wl,
        |  CAST(SUM(CASE WHEN pass_stop THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_stop,
        |  CAST(SUM(CASE WHEN pass_rep THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_rep
        |FROM r GROUP BY source ORDER BY source""".stripMargin),

    Q(
      // Flesch-style readability per source: syllables ≈ vowel groups
      // ([aeiouy]+ runs, ≥1 per word — the classic heuristic), score =
      // 206.835 − 1.015·(words/doc) − 84.6·(syllables/word). The three
      // inputs are EXACT integer corpus sums (counts survive any
      // partitioning); the score is one fixed-shape double expression
      // over those longs — identical IEEE ops in identical order on
      // both engines, rounded r4. Fixture text has no sentence
      // punctuation, so the "sentence" unit is the document (documented
      // dial — real corpora would split on [.!?]).
      // Scale shape: pure map-side token math, ONE |sources|-row agg.
      "q_text_readability",
      (s, d) => {
        val syl = expr(
          """aggregate(transform(w,
            |            t -> greatest(1L, size(regexp_extract_all(
            |                   lower(t), '[aeiouy]+', 0)))),
            |          0L, (a, x) -> a + x)""".stripMargin)
        Tables.documents(s, d)
          .select(col("source"),
                  graft.api.Dedup.tokens(col("text")).as("w"))
          .filter(size(col("w")) > 0)
          .select(col("source"), size(col("w")).cast("long").as("nw"),
                  syl.as("ns"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
               sum(col("ns")).as("n_syll"))
          .select(col("source"), col("n_docs"), col("n_words"),
                  col("n_syll"),
                  round(col("n_words").cast("double") / col("n_docs"), 4)
                    .as("wpd"),
                  round(col("n_syll").cast("double") / col("n_words"), 4)
                    .as("spw"),
                  round(lit(206.835)
                    - lit(1.015) * (col("n_words").cast("double") /
                                    col("n_docs"))
                    - lit(84.6) * (col("n_syll").cast("double") /
                                   col("n_words")), 4).as("flesch"))
          .orderBy(col("source"))
      },
      s"""WITH f AS (
        |  SELECT source, ${toksSql("text")} AS w FROM documents),
        |m AS (
        |  SELECT source, len(w) AS nw,
        |    list_sum(list_transform(w,
        |      t -> greatest(1, len(regexp_extract_all(
        |             lower(t), '[aeiouy]+', 0))))) AS ns
        |  FROM f WHERE len(w) > 0),
        |a AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(nw) AS BIGINT) AS n_words,
        |    CAST(SUM(ns) AS BIGINT) AS n_syll
        |  FROM m GROUP BY source)
        |SELECT source, n_docs, n_words, n_syll,
        |  round(CAST(n_words AS DOUBLE) / n_docs, 4) + 0 AS wpd,
        |  round(CAST(n_syll AS DOUBLE) / n_words, 4) + 0 AS spw,
        |  round(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / n_docs)
        |    - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) + 0
        |    AS flesch
        |FROM a ORDER BY source""".stripMargin),

    Q(
      // Skip-gram collocation mining: token pairs co-occurring within
      // a ±2 positional window, scored by the exact PMI ARGUMENT
      // n_ab·N/(n_a·n_b) on the scale-4 grid — log is monotone, so the
      // score order IS the PMI order without either engine's libm ever
      // running (the frozen-discount discipline of q_eval_ranking).
      // This is the word2vec/collocation statistic ("new york") that
      // complements the adjacent-only bigram LM. Shape: positional
      // pairs come from TWO shifted equi-joins of the posexploded
      // token frame (offset +1 and +2 — never a range join), unigram
      // counts are one hash-agg, and only pairs with n_ab ≥ 5 are
      // scored (the a-priori cut before the top-30 heap). lift4 rides
      // DECIMAL(38,0): n_ab·N clears int64 on a 100 TB corpus.
      "q_text_collocations",
      (s, d) => {
        val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
        // r12: a localCheckpoint of toks was tried (five plan branches)
        // and MEASURED SLOWER (1.27 → 1.57 s at sf0.1) — the
        // scan+split+posexplode recompute is cheaper than storing and
        // re-reading the full token stream. Left as-is deliberately.
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
                  posexplode(graft.api.Dedup.tokens(col("text"))))
          .select(col("doc_id"), col("pos"), col("col").as("w"))
        val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
        val nTot = toks.agg(count(lit(1)).as("_n"))
        // r13 (guide §2.4): the +1/+2 pairs used to come from TWO
        // shifted equi-joins of the token stream against itself — four
        // corpus-sized exchanges plus two sort-merge sorts. posexplode
        // positions are DENSE per doc (0..n−1, every position
        // present), so lead(w, 1)/lead(w, 2) over one (doc, pos)
        // window emits exactly the same (w_a, w_b) multiset — join at
        // offset k matches iff pos+k exists, which is iff lead(w, k)
        // is non-null — with ONE exchange and ONE sort.
        val wSeq = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val pairs = toks
          .withColumn("_w1", lead(col("w"), 1).over(wSeq))
          .withColumn("_w2", lead(col("w"), 2).over(wSeq))
          .select(col("w").as("w_a"),
                  explode(array(col("_w1"), col("_w2"))).as("w_b"))
          .filter(col("w_b").isNotNull)
          .groupBy(col("w_a"), col("w_b"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 5)
        pairs
          .join(broadcast(uni.select(col("w").as("_wa"),
                                     col("n_w").as("n_a"))),
                col("w_a") === col("_wa"))
          .join(broadcast(uni.select(col("w").as("_wb"),
                                     col("n_w").as("n_b"))),
                col("w_b") === col("_wb"))
          .crossJoin(broadcast(nTot))
          .select(col("w_a"), col("w_b"), col("n_ab"),
                  col("n_a"), col("n_b"),
                  intRatio4Wide(col("n_ab").cast(D38) * col("_n") * 10000,
                                col("n_a").cast(D38) * col("n_b"))
                    .as("lift4"))
          .orderBy(col("lift4").desc, col("w_a"), col("w_b"))
          .limit(30)
      },
      s"""WITH tok AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w
        |  FROM tok),
        |t AS (SELECT doc_id, i, w[i] AS tw FROM pos),
        |uni AS (SELECT tw, COUNT(*) AS n_w FROM t GROUP BY tw),
        |n AS (SELECT COUNT(*) AS nn FROM t),
        |pr AS (
        |  SELECT a.tw AS w_a, b.tw AS w_b, COUNT(*) AS n_ab
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  GROUP BY a.tw, b.tw
        |  UNION ALL
        |  SELECT a.tw AS w_a, b.tw AS w_b, COUNT(*) AS n_ab
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 2
        |  GROUP BY a.tw, b.tw),
        |pairs AS (
        |  SELECT w_a, w_b, CAST(SUM(n_ab) AS BIGINT) AS n_ab
        |  FROM pr GROUP BY w_a, w_b
        |  HAVING SUM(n_ab) >= 5)
        |SELECT p.w_a, p.w_b, p.n_ab,
        |  CAST(ua.n_w AS BIGINT) AS n_a, CAST(ub.n_w AS BIGINT) AS n_b,
        |  CAST((2 * (CAST(p.n_ab AS HUGEINT) * nn * 10000)
        |        + CAST(ua.n_w AS HUGEINT) * ub.n_w)
        |       // (2 * (CAST(ua.n_w AS HUGEINT) * ub.n_w)) AS DOUBLE)
        |    / 10000.0 AS lift4
        |FROM pairs p
        |JOIN uni ua ON p.w_a = ua.tw
        |JOIN uni ub ON p.w_b = ub.tw
        |CROSS JOIN n
        |ORDER BY lift4 DESC, w_a ASC, w_b ASC
        |LIMIT 30""".stripMargin),

    Q(
      // RAKE-style keyphrase extraction: token runs between stopwords
      // become candidate phrases; each word scores deg/freq (deg = the
      // summed length of every phrase containing it — favors words
      // that travel in long collocations), a phrase scores the sum of
      // its member words — the classic unsupervised keyword extractor
      // (complement of tf-idf's corpus-frequency view). Segmentation
      // is ONE per-doc window (cumsum of stopword flags over position:
      // map-side shape, no regex splitting divergence), word stats are
      // two hash-aggs over phrase members, and deg/freq lands on the
      // exact 1e-4 grid via half-up integral division so phrase scores
      // are integer sums — no float ratio accumulates. Top-20 by
      // (score, phrase) through the TakeOrderedAndProject heap.
      "q_text_rake",
      (s, d) => {
        val stops = Seq("the", "a", "of", "and", "to", "in", "is")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
                  posexplode(graft.api.Dedup.tokens(col("text"))))
          .select(col("doc_id"), col("pos"), col("col").as("w"),
                  col("col").isin(stops: _*).as("stop"))
        val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        // r12 (guide §3.3): `m` (tokenize + posexplode + segment
        // window) feeds three plan branches (ph, the ws degree join,
        // inst) and `ph` two — lazily planned, the tokenize+window
        // pipeline ran 3× per invocation (before-plan: 8 parquet
        // scans). Materialize both once per invocation
        // (localCheckpoint — recomputed from parquet every time).
        val m = toks
          .withColumn("seg", sum(col("stop").cast("long")).over(wSeg))
          .filter(!col("stop"))
          .select(col("doc_id"), col("seg"), col("pos"), col("w"))
          .localCheckpoint()
        val ph = m.groupBy(col("doc_id"), col("seg"))
          .agg(concat_ws(" ",
                 transform(array_sort(collect_list(
                   struct(col("pos"), col("w")))), _.getField("w")))
                 .as("phrase"),
               count(lit(1)).as("len"))
          .localCheckpoint()
        val ws = m.join(ph.select(col("doc_id").as("_d"),
                                  col("seg").as("_s"), col("len")),
                        col("doc_id") === col("_d") &&
                        col("seg") === col("_s"))
          .groupBy(col("w"))
          .agg(sum(col("len")).as("deg"), count(lit(1)).as("freq"))
          .select(col("w").as("_w"),
                  halfUpDivWide(col("deg") * 10000, col("freq")).as("s4"))
        val inst = m.join(broadcast(ws), col("w") === col("_w"))
          .groupBy(col("doc_id").as("_d2"), col("seg").as("_s2"))
          .agg(sum(col("s4")).as("sc4"))
        ph.join(inst, col("doc_id") === col("_d2") &&
                      col("seg") === col("_s2"))
          .groupBy(col("phrase"))
          .agg(count(lit(1)).as("n_occur"), max(col("sc4")).as("_m4"))
          .select(col("phrase"), col("n_occur"),
                  (col("_m4").cast("double") / 10000.0).as("score4"))
          .orderBy(col("score4").desc, col("phrase"))
          .limit(20)
      },
      s"""WITH tok AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w
        |  FROM tok),
        |t AS (
        |  SELECT doc_id, i, w[i] AS tw,
        |    w[i] IN ('the', 'a', 'of', 'and', 'to', 'in', 'is') AS stop
        |  FROM pos),
        |seg AS (
        |  SELECT doc_id, i, tw, stop,
        |    SUM(CASE WHEN stop THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS seg
        |  FROM t),
        |m AS (SELECT doc_id, seg, i, tw FROM seg WHERE NOT stop),
        |ph AS (
        |  SELECT doc_id, seg, string_agg(tw, ' ' ORDER BY i) AS phrase,
        |    COUNT(*) AS len
        |  FROM m GROUP BY doc_id, seg),
        |ws AS (
        |  SELECT m.tw,
        |    (2 * (CAST(SUM(ph.len) AS HUGEINT) * 10000) + COUNT(*))
        |      // (2 * CAST(COUNT(*) AS HUGEINT)) AS s4
        |  FROM m JOIN ph ON m.doc_id = ph.doc_id AND m.seg = ph.seg
        |  GROUP BY m.tw),
        |inst AS (
        |  SELECT m.doc_id, m.seg, CAST(SUM(ws.s4) AS BIGINT) AS sc4
        |  FROM m JOIN ws ON m.tw = ws.tw
        |  GROUP BY m.doc_id, m.seg)
        |SELECT ph.phrase, COUNT(*) AS n_occur,
        |  CAST(MAX(inst.sc4) AS DOUBLE) / 10000.0 AS score4
        |FROM ph JOIN inst ON ph.doc_id = inst.doc_id
        |                 AND ph.seg = inst.seg
        |GROUP BY ph.phrase
        |ORDER BY score4 DESC, phrase ASC
        |LIMIT 20""".stripMargin),

    Q(
      // Content-novelty rate per source: the fraction of each source's
      // (per-doc distinct) 3-grams whose FIRST corpus occurrence (min
      // doc_id) is in that doc — the "is this feed adding new content
      // or re-serving the corpus" curation dial, the time-ordered
      // complement of q_text_dup_ngrams' symmetric dup ratio. Uses THE
      // shared tokenizer/shingler (api.Dedup.tokens/shingleExpr — the
      // one n-gram definition dedup and contamination use), one window
      // min over the shingle partition (corpus-keyed, the dupNgramStats
      // posture — no count-table join, no second scan), one rollup.
      "q_text_novelty",
      (s, d) => {
        val ex = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
                  graft.api.Dedup.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), col("source"),
                  explode_outer(expr(graft.api.Dedup.shingleExpr(3)))
                    .as("sh"))
          .filter(col("sh").isNotNull)
        ex.withColumn("_first",
            min(col("doc_id")).over(Window.partitionBy(col("sh"))))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_shingles"),
               sum(when(col("_first") === col("doc_id"), 1L)
                 .otherwise(0L)).as("n_novel"))
          .select(col("source"), col("n_shingles"), col("n_novel"),
                  graft.Determinism.intRatio4(
                    col("n_novel") * 10000L, col("n_shingles"))
                    .as("novelty4"))
          .orderBy(col("source"))
      },
      s"""WITH tok AS (
        |  SELECT doc_id, source, ${toksSql("text")} AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    concat(w[i+1], ' ', w[i+2], ' ', w[i+3]) AS sh
        |  FROM (SELECT doc_id, source, w, unnest(range(0, len(w)-2)) AS i
        |        FROM tok WHERE len(w) >= 3)),
        |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh),
        |per AS (
        |  SELECT s.source, COUNT(*) AS n_shingles,
        |    SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |      AS n_novel
        |  FROM sh s JOIN f ON s.sh = f.sh
        |  GROUP BY s.source)
        |SELECT source, CAST(n_shingles AS BIGINT) AS n_shingles,
        |  CAST(n_novel AS BIGINT) AS n_novel,
        |  CAST((2*(n_novel*10000) + n_shingles) // (2*n_shingles)
        |       AS DOUBLE) / 10000.0 AS novelty4
        |FROM per ORDER BY source""".stripMargin),

    Q(
      // KWIC concordance ("keyword in context"): every occurrence of a
      // term with its ±3-token window — the linguist's / labeler's
      // standard view of how a word is actually used (and the audit
      // tool for "why did the quality gate fire on this phrase").
      // 1-based positions via posexplode; context slices are pure
      // array ops clamped at doc edges identically on both engines
      // (empty slice → empty string). Map-side until the final tiny
      // top-50; the token arrays never shuffle — only matched (id,
      // pos, two short strings) rows do.
      "q_text_kwic",
      (s, d) => {
        val hits = Tables.documents(s, d)
          .select(col("doc_id"),
                  graft.api.Dedup.tokens(col("text")).as("w"))
          .select(col("doc_id"), col("w"),
                  posexplode(col("w")).as(Seq("pos0", "tok")))
          .filter(col("tok") === "spark")
          .withColumn("p", col("pos0") + 1)
        val ls = greatest(lit(1), col("p") - 3)
        hits.select(col("doc_id"), col("p").cast("long").as("p"),
                    concat_ws(" ", slice(col("w"), ls, col("p") - ls))
                      .as("left_ctx"),
                    concat_ws(" ", slice(col("w"), col("p") + 1, lit(3)))
                      .as("right_ctx"))
          .orderBy(col("doc_id"), col("p"))
          .limit(50)
      },
      s"""WITH tok AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents),
        |hits AS (
        |  SELECT doc_id, w, p
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS p
        |        FROM tok)
        |  WHERE w[p] = 'spark')
        |SELECT doc_id, CAST(p AS BIGINT) AS p,
        |  COALESCE(array_to_string(w[greatest(1, p - 3):p - 1], ' '),
        |           '') AS left_ctx,
        |  COALESCE(array_to_string(w[p + 1:p + 3], ' '), '')
        |    AS right_ctx
        |FROM hits ORDER BY doc_id, p LIMIT 50""".stripMargin)
  )
}
