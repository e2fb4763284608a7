package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.api.Pipeline
import graft.io.Tables

/** Training-data pipeline operators (SURVEY §2.6 extension): the
  * corpus-curation steps that sit between raw documents and a training
  * run — deterministic stratified sampling (data mixing), train/val/test
  * splitting, TF-IDF and BM25 relevance scoring, token-budget sequence
  * packing, and benchmark-contamination detection.
  *
  * Each query is a thin reporting wrapper over the PUBLIC parameterized
  * API in `graft.api.Pipeline` — the oracle gate therefore verifies the
  * reusable library operators themselves, not fixture-bound copies.
  *
  * Scale notes (100 TB):
  *  - sampling/splitting are pure map-side predicates on a content hash —
  *    no shuffle at all before the reporting aggregate, and the SAME doc
  *    always lands in the same split on any cluster size or rerun
  *    (md5-derived, not rand()).
  *  - tf-idf/bm25 are explode + hash-agg + broadcast of the tiny
  *    (term-level / scalar) statistics — never a per-doc-pair operation.
  *  - packing is one window per (lang) partition over pre-aggregated
  *    per-doc token counts — rows shuffled once, integer math.
  *  - contamination is a LEFT SEMI join against the benchmark shingle
  *    set: candidate docs never fan out into pairs, only (id, shingle)
  *    rows shuffle, and the benchmark side (tiny) broadcasts.
  *
  * Determinism: sampling thresholds are integer compares on a 16-bit
  * hash slice (no floats); scores follow R3 (identical operand order,
  * round(…,4), rank on the ROUNDED value).
  */
object PipelineOps extends OpGroup {

  // u16Sql (DuckDB twin of api.Pipeline.hash16) moved to the ops
  // package object — shared with StatsOps' bootstrap.

  /** DuckDB rendering of Pipeline.hash32 (first 8 md5 hex digits as a
    * BIGINT) — same digit arithmetic as [[u16Sql]], four more digits. */
  private def u32Sql(c: String): String = {
    def d(i: Int) =
      s"(instr('0123456789abcdef', substr(md5(COALESCE(CAST($c AS VARCHAR), '')), $i, 1)) - 1)"
    (1 to 8).map(i => s"${d(i)} * ${1L << (4 * (8 - i))}").mkString(" + ")
  }

  /** Shared reporting wrapper of the two contamination queries: run the
    * given detector (corpus, benchmark, id, text, n) over the src0-vs-
    * rest split of `documents`, then report per-lang counts — so
    * q_contamination and q_contamination_bloom differ ONLY in the
    * detection path and share one oracle. */
  private def contaminationReport(
      s: org.apache.spark.sql.SparkSession, d: String)(
      detector: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
                 org.apache.spark.sql.Column, org.apache.spark.sql.Column,
                 Int) => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val hits = detector(corpus, bench, col("doc_id"), col("text"), 7)
    corpus.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(hits.groupBy(col("lang"))
              .agg(count(lit(1)).as("n_contaminated"),
                   min(col("doc_id")).as("first_doc")),
            Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
              coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
              coalesce(col("first_doc"), lit(-1L)).as("first_doc"))
      .orderBy(col("lang"))
  }

  private val contaminationSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, lang, source, ${toksSql("text")} AS w
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, lang, source,
      |    concat(w[i+1], ' ', w[i+2], ' ', w[i+3], ' ', w[i+4], ' ',
      |           w[i+5], ' ', w[i+6], ' ', w[i+7]) AS g
      |  FROM (SELECT doc_id, lang, source, w,
      |          unnest(range(0, len(w) - 6)) AS i
      |        FROM tok WHERE len(w) >= 7)),
      |contaminated AS (
      |  SELECT DISTINCT c.doc_id, c.lang
      |  FROM sh c WHERE c.source <> 'src0'
      |    AND EXISTS (SELECT 1 FROM sh b
      |                WHERE b.source = 'src0' AND b.g = c.g)),
      |base AS (
      |  SELECT lang, COUNT(*) AS n_docs FROM documents
      |  WHERE source <> 'src0' GROUP BY lang),
      |hit AS (
      |  SELECT lang, COUNT(*) AS n_contaminated, MIN(doc_id) AS first_doc
      |  FROM contaminated GROUP BY lang)
      |SELECT base.lang, base.n_docs,
      |  COALESCE(hit.n_contaminated, 0) AS n_contaminated,
      |  COALESCE(hit.first_doc, -1) AS first_doc
      |FROM base LEFT JOIN hit ON base.lang = hit.lang
      |ORDER BY base.lang""".stripMargin

  def qs: Seq[Q] = Seq(
    Q(
      // deterministic stratified sampling = data-mixing weights: keep
      // 25% of the dominant language, 75% of the rest, decided per doc
      // by an integer threshold on the content hash — replayable on any
      // cluster, no rand(), no shuffle before the reporting aggregate.
      "q_sample_stratified",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val kept = Pipeline.sampleStratified(
          docs, col("lang"), col("doc_id"),
          weights = Map("en" -> 0.25), default = 0.75)
        docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
          .join(kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept")),
                Seq("lang"), "left")
          .select(col("lang"), col("n_total"),
                  coalesce(col("n_kept"), lit(0L)).as("n_kept"),
                  r4(coalesce(col("n_kept"), lit(0L)) / col("n_total"))
                    .as("pct_kept"))
          .orderBy(col("lang"))
      },
      s"""WITH h AS (
        |  SELECT lang, ${u16Sql("doc_id")} AS u,
        |    CASE WHEN lang = 'en' THEN 16384 ELSE 49152 END AS thr
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_total,
        |  COUNT(CASE WHEN u < thr THEN 1 END) AS n_kept,
        |  round(CAST(COUNT(CASE WHEN u < thr THEN 1 END) AS DOUBLE)
        |        / COUNT(*), 4) + 0 AS pct_kept
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // weight-proportional sampling (api.Pipeline.sampleWeighted):
      // p(keep) = n_chars / max(n_chars) — the kept set's character
      // mass tracks the corpus's long-document tail, the property
      // uniform sampling destroys. Decision = one integer
      // cross-multiply against a 1-row broadcast max; zero shuffle on
      // the corpus side. Verified per-lang: totals AND kept char mass.
      "q_sample_weighted",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val kept = Pipeline.sampleWeighted(docs, col("n_chars"),
                                           col("doc_id"))
        docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"),
               sum(col("n_chars")).as("chars_total"))
          .join(kept.groupBy(col("lang"))
                  .agg(count(lit(1)).as("n_kept"),
                       sum(col("n_chars")).as("ck")),
                Seq("lang"), "left")
          .select(col("lang"), col("n_total"), col("chars_total"),
                  coalesce(col("n_kept"), lit(0L)).as("n_kept"),
                  coalesce(col("ck"), lit(0L)).as("chars_kept"))
          .orderBy(col("lang"))
      },
      s"""WITH mx AS (SELECT MAX(n_chars) AS wmax FROM documents),
        |h AS (SELECT lang, n_chars, ${u16Sql("doc_id")} AS u
        |      FROM documents)
        |SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
        |  COUNT(CASE WHEN u * wmax < 65536 * n_chars THEN 1 END)
        |    AS n_kept,
        |  CAST(COALESCE(SUM(CASE WHEN u * wmax < 65536 * n_chars
        |                         THEN n_chars END), 0) AS BIGINT)
        |    AS chars_kept
        |FROM h, mx GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // 2-D Pareto frontier (api.Pipeline.paretoFrontier2D): parts not
      // dominated under (min price, max size). Spark side is the
      // distributed prefix-max scan — group-reduce, per-bucket
      // running-max windows, one tiny cumulative window over bucket
      // maxima broadcast back; the ORACLE is the naive quadratic
      // NOT-EXISTS dominance filter, so the hash match proves the
      // scan reformulation exact (the banded-range-join pattern).
      "q_skyline_pareto",
      (s, d) => {
        val pts = Tables.part(s, d)
          .select((money("p_retailprice") * 100).cast("long")
                    .as("price_cents"),
                  col("p_size").cast("long").as("psize"))
        val pairs = pts.groupBy(col("price_cents"), col("psize"))
          .agg(count(lit(1)).as("n_parts"))
        Pipeline.paretoFrontier2D(pts, col("price_cents"), col("psize"),
                                  bucketWidth = 1000L)
          .withColumnRenamed("x", "price_cents")
          .withColumnRenamed("y", "psize")
          .join(pairs, Seq("price_cents", "psize"))
          .orderBy(col("price_cents"))
      },
      """WITH p AS (
        |  SELECT CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
        |              AS BIGINT) AS price_cents,
        |         CAST(p_size AS BIGINT) AS psize, COUNT(*) AS n_parts
        |  FROM part GROUP BY 1, 2)
        |SELECT price_cents, psize, n_parts
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_cents <= a.price_cents AND b.psize >= a.psize
        |    AND (b.price_cents < a.price_cents OR b.psize > a.psize))
        |ORDER BY price_cents""".stripMargin),

    Q(
      // hash-based train/val/test split (90/5/5): split id = content
      // hash mod 20 — docs never migrate between splits across reruns
      // or cluster sizes, the property rand()-splits lack.
      "q_split_train_holdout",
      (s, d) => Pipeline.splitAssign(
          Tables.documents(s, d), col("doc_id"), buckets = 20,
          assignments = Map(0 -> "test", 1 -> "val"),
          defaultSplit = "train")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("split")),
      s"""WITH h AS (
        |  SELECT lang, doc_id, (${u16Sql("doc_id")}) % 20 AS m
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN m = 0 THEN 'test'
        |       WHEN m = 1 THEN 'val' ELSE 'train' END AS split,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM h GROUP BY lang, split ORDER BY lang, split""".stripMargin),

    Q(
      // corpus TF-IDF: top-3 terms per language by tf(lang,term) *
      // ln(N/df(term)). One explode, two hash-aggs, the scalar N and the
      // per-term df broadcast back — no per-doc-pair work anywhere.
      "q_text_tfidf",
      (s, d) => Pipeline.tfidfTopTerms(
          Tables.documents(s, d), col("doc_id"), col("lang"), col("text"),
          k = 3)
        .withColumnRenamed("grp", "lang")
        .orderBy(col("lang"), col("rn")),
      """WITH tokens AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT lang, term, COUNT(*) AS tf
        |       FROM tokens GROUP BY lang, term),
        |df AS (SELECT term, COUNT(*) AS df FROM
        |         (SELECT DISTINCT doc_id, term FROM tokens)
        |       GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.lang, tf.term, tf.tf, df.df,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) + 0 AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |             ORDER BY score DESC, term ASC) AS rn
        |  FROM scored)
        |SELECT lang, term, tf, df, score, rn FROM r WHERE rn <= 3
        |ORDER BY lang, rn""".stripMargin),

    Q(
      // BM25 (k1=1.2, b=0.75) retrieval scoring for a two-term query
      // over the corpus, top-10 docs. Same shape as tf-idf: per-doc tf
      // for the query terms only (explode + filter + hash-agg), per-term
      // df and the scalar (N, avgdl) broadcast back. R3: the oracle
      // mirrors the API's exact constant arithmetic ((1.2 + 1.0),
      // (1.0 - 0.75)) so both engines fold identical doubles.
      "q_text_bm25",
      (s, d) => Pipeline.bm25TopDocs(
          Tables.documents(s, d), col("doc_id"), col("text"),
          terms = Seq("spark", "query"), k = 10)
        .withColumnRenamed("_id", "doc_id"),
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS dl
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d),
        |tf AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM
        |    (SELECT doc_id, dl, unnest(w) AS term FROM d)
        |  WHERE term IN ('spark', 'query')
        |  GROUP BY doc_id, dl, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    round(SUM(
        |      ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * (tf.tf * (1.2 + 1.0))
        |      / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl
        |           / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
        |    ), 4) + 0 AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score FROM scored
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin),

    Q(
      // token-budget sequence packing (2048-token bins): docs stream
      // into bins in doc_id order per language; bin id = running-total
      // offset div budget — deterministic integer math, one window per
      // lang partition over per-doc token counts (NOT per-token rows).
      "q_pack_sequences",
      (s, d) => {
        val budget = 2048
        val toks = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
                  size(split(col("text"), " ")).cast("bigint").as("tok"))
        Pipeline.packBins(toks, col("lang"), col("doc_id"), col("tok"),
                          budget)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("tok")).as("total_tokens"),
               (max(col("bin")) + 1).as("n_bins"),
               r4(sum(col("tok")) / ((max(col("bin")) + 1) * budget))
                 .as("fill_ratio"))
          .orderBy(col("lang"))
      },
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, tok,
        |    SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
        |  CAST(MAX((cum - tok) // 2048) + 1 AS BIGINT) AS n_bins,
        |  round(CAST(SUM(tok) AS DOUBLE)
        |        / ((MAX((cum - tok) // 2048) + 1) * 2048), 4) + 0 AS fill_ratio
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // benchmark-contamination detection: a doc is contaminated when it
      // shares any distinct word-7-gram with the held-out "benchmark"
      // set (source = 'src0' here). 7-gram width = same selectivity
      // dial as q_dedup_ngram_jaccard (real decontamination runs use
      // 13-grams on web-scale docs).
      "q_contamination",
      (s, d) => contaminationReport(s, d)(Pipeline.contaminated(_, _, _, _, _)),
      contaminationSql),

    Q(
      // the SAME contamination contract through the bloom-prefiltered
      // path (api.Pipeline.contaminatedBloom): corpus shingles probe a
      // ~1 MB bloom blob of the benchmark set in the SCAN stage, and
      // only the survivors (true hits + ~fpp noise) reach the exact
      // confirm join. No false negatives + exact confirm ⇒ provably the
      // same rows as q_contamination — so both paths share ONE oracle,
      // and the driver hash-compares the optimized plan's output against
      // the naive plan's spec on every run.
      "q_contamination_bloom",
      (s, d) => contaminationReport(s, d)(
        Pipeline.contaminatedBloom(_, _, _, _, _, expectedItems = 300000L)),
      contaminationSql),

    Q(
      // token-budget mixture planning (api.Pipeline.mixRates): per-lang
      // keep rates that hit budget×weight tokens, capped at 1.0 — the
      // data-mixing math run before training, whose output rates feed
      // sampleStratified directly. Token counts = the q_text_tokens
      // BPE-ish estimate (one shared definition). zh's 0.8 weight
      // exceeds its corpus share, so the 1.0 cap branch is exercised —
      // never a vacuous least().
      "q_mix_budget",
      (s, d) => graft.api.Pipeline.mixRates(
          graft.api.Text.tokenCounts(Tables.documents(s, d), col("text")),
          col("lang"), col("n_bpe"),
          weights = Map("en" -> 0.3, "de" -> 0.1, "es" -> 0.1,
                        "fr" -> 0.1, "zh" -> 0.8),
          budget = 10000L)
        .orderBy(col("stratum")),
      """WITH tok AS (
        |  SELECT lang,
        |    list_sum(list_transform(string_split(text, ' '),
        |      w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS n
        |  FROM documents),
        |tot AS (
        |  SELECT lang AS stratum, CAST(SUM(n) AS BIGINT) AS toks
        |  FROM tok GROUP BY lang),
        |w(s2, wt) AS (VALUES
        |  ('de', 0.1), ('en', 0.3), ('es', 0.1), ('fr', 0.1),
        |  ('zh', 0.8))
        |SELECT stratum, toks,
        |  round(least(1.0, 10000 * wt / toks), 4) + 0 AS rate,
        |  CAST(floor(toks * (round(least(1.0, 10000 * wt / toks), 4) + 0))
        |    AS BIGINT) AS kept_toks
        |FROM tot JOIN w ON stratum = s2 ORDER BY stratum""".stripMargin),

    Q(
      // deterministic epoch shuffle + mixture interleave: the ORDER a
      // training run consumes its mixture in, reproducible across
      // restarts and cluster sizes — each stratum is shuffled by the
      // content hash (no rand()), then strata interleave round-robin
      // by per-stratum rank. The top-40 head is TakeOrderedAndProject
      // (per-partition heaps); only those 40 rows see the final
      // global-rank window, so the single-partition window hazard
      // never touches the corpus.
      "q_mix_interleave",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
                  graft.api.Pipeline.hash16(col("doc_id")).as("u"))
        val rn = row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("u").asc, col("doc_id").asc))
        val top = base.withColumn("rn", rn.cast("long"))
          .orderBy(col("rn"), col("lang"), col("doc_id"))
          .limit(40)
        top.withColumn("rank", row_number().over(
            Window.orderBy(col("rn"), col("lang"), col("doc_id")))
            .cast("long"))
          .select(col("rank"), col("lang"), col("doc_id"), col("rn"))
          .orderBy(col("rank"))
      },
      s"""WITH h AS (
        |  SELECT lang, doc_id, ${u16Sql("doc_id")} AS u
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY u ASC, doc_id ASC) AS BIGINT) AS rn
        |  FROM h),
        |t AS (SELECT * FROM r ORDER BY rn, lang, doc_id LIMIT 40)
        |SELECT CAST(row_number() OVER (ORDER BY rn, lang, doc_id)
        |    AS BIGINT) AS rank,
        |  lang, doc_id, rn
        |FROM t ORDER BY rank""".stripMargin),

    Q(
      // RAG-ingestion chunking: overlapping 30-token windows, stride
      // 20 — the split every embedding/retrieval pipeline runs before
      // vectorizing. Window count is EXACT integer math
      // (⌈max(0, n−size)/stride⌉ + 1: every token covered, last chunk
      // may be short, singleton doc = one chunk); chunk text crosses
      // engines as md5 + bounds, so the hash certifies identical
      // windowing. Pure map-side explode — no shuffle before the
      // final ORDER BY.
      "q_text_chunk",
      (s, d) => {
        val (size, stride) = (30, 20)
        Tables.documents(s, d)
          .filter(col("doc_id") < 25)
          .select(col("doc_id"),
                  graft.api.Dedup.tokens(col("text")).as("w"))
          .filter(org.apache.spark.sql.functions.size(col("w")) > 0)
          // ONE window-split definition shared with Text.lineDedup
          // (which is the stride == size special case)
          .withColumn("n_chunks",
            expr(graft.api.Text.windowCountExpr(size, stride))
              .cast("long"))
          .select(col("doc_id"), col("n_chunks"),
                  posexplode(expr(graft.api.Text
                    .windowSplitExpr(size, stride, "n_chunks"))))
          .toDF("doc_id", "n_chunks", "chunk_id", "chunk")
          .select(col("doc_id"), col("n_chunks"),
                  col("chunk_id").cast("long").as("chunk_id"),
                  expr("size(split(chunk, ' '))").cast("long")
                    .as("chunk_toks"),
                  md5(col("chunk")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      s"""WITH tok AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents
        |  WHERE doc_id < 25),
        |base AS (
        |  SELECT doc_id, w,
        |    (greatest(len(w) - 30, 0) + 19) // 20 + 1 AS n_chunks
        |  FROM tok WHERE len(w) > 0),
        |c AS (
        |  SELECT doc_id, n_chunks, i AS chunk_id,
        |    array_to_string(w[i*20+1:i*20+30], ' ') AS chunk
        |  FROM (SELECT doc_id, n_chunks, w,
        |          unnest(range(0, n_chunks)) AS i
        |        FROM base))
        |SELECT doc_id, n_chunks, chunk_id,
        |  len(string_split(chunk, ' ')) AS chunk_toks,
        |  md5(chunk) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    Q(
      // deterministic k-per-group sample through the native HEAP
      // aggregate: 3 docs per lang, chosen by content-hash order (the
      // same no-rand() contract as sampleStratified — replayable on
      // any cluster). The folk idiom is the row_number window, which
      // SORTS every group; topk_by_long (functions.TopKByLong, the
      // TypedImperativeAggregate) keeps a k-capped heap per partition
      // and shuffles ≤ k·partitions pairs per lang. The ORACLE runs
      // the window idiom — the hash match proves heap ≡ sort,
      // including the hash16-collision tiebreak (ord ties keep the
      // SMALLER doc_id on both paths).
      "q_sample_pergroup",
      (s, d) => {
        graft.functions.TopKByLong.register(s)
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
                  // DESCENDING heap order == ascending hash16 order via
                  // negation: topk_by_long keeps LARGEST ord first
                  (-graft.api.Pipeline.hash16(col("doc_id")).cast("long"))
                    .as("nh"))
          .groupBy(col("lang"))
          .agg(expr("topk_by_long(doc_id, nh, 3)").as("_picks"))
          .select(col("lang"), explode(col("_picks")).as("doc_id"))
          .orderBy(col("lang"), col("doc_id"))
      },
      s"""WITH h AS (
        |  SELECT lang, doc_id, ${u16Sql("doc_id")} AS u
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY u ASC, doc_id ASC) AS rn
        |  FROM h)
        |SELECT lang, doc_id FROM r WHERE rn <= 3
        |ORDER BY lang, doc_id""".stripMargin),

    Q(
      // KMV approximate-distinct (api.Pipeline.approxDistinctKMV,
      // functions.KmvKth): distinct users per event type, k=64,
      // reported NEXT TO the exact count so the error is visible in the
      // output. The sketch's k smallest distinct hashes are a function
      // of the input SET — partition/merge-order independent — so the
      // estimate is oracle-gated exactly (DuckDB recomputes it from the
      // same md5-slice hashes via a window), which engine-private HLL
      // (`approx_count_distinct`) can never be. State: ≤ 64 longs per
      // group; duplicates dedup inside the sketch, raw rows stream in
      // with no distinct pre-shuffle. n_exact counts distinct HASHES on
      // both engines (hash-consistent by construction; collisions are
      // birthday-negligible at 2^32).
      "q_distinct_kmv",
      (s, d) => {
        val ev = Tables.events(s, d)
        val est = Pipeline.approxDistinctKMV(
          ev, col("event_type"), col("user_id"), k = 64)
          .withColumnRenamed("g", "event_type")
        val exact = ev.groupBy(col("event_type"))
          .agg(countDistinct(Pipeline.hash32(col("user_id"))).as("n_exact"))
        exact.join(est, Seq("event_type"))
          .select(col("event_type"), col("n_exact"), col("est_distinct"))
          .orderBy(col("event_type"))
      },
      s"""WITH h AS (
        |  SELECT DISTINCT event_type, ${u32Sql("user_id")} AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h)
        |SELECT event_type, CAST(nd AS BIGINT) AS n_exact,
        |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |       ELSE round(63.0 / (CAST(hv AS DOUBLE) / 4294967296.0), 4) + 0
        |  END AS est_distinct
        |FROM r WHERE rn = CASE WHEN nd < 64 THEN nd ELSE 64 END
        |ORDER BY event_type""".stripMargin),

    Q(
      // KMV sketch SET ALGEBRA (api.Pipeline.kmvSketch): per event-type
      // pair, distinct-user union and intersection ESTIMATES computed
      // purely from the two k-min sets (k-min(A∪B) is recoverable from
      // k-min(A) ∪ k-min(B) — the merge property that makes KMV a set
      // sketch, not just a counter), reported NEXT TO the exact
      // intersection so the inclusion–exclusion error is visible in
      // the gate. Scale shape: pair operations touch ≤ k rows per
      // group — the corpora are scanned once to build the 5 sketches;
      // only the exact-baseline column pays a full hash self-join,
      // and it exists purely to measure the sketch.
      "q_distinct_kmv_setops",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val K = 64
        val ev = Tables.events(s, d)
        // r12 (guide §3.3): the sketch feeds the per-type stats AND the
        // pair-union branch, and the exact-baseline hash set both sides
        // of its self-join — materialize both once per invocation
        val sk = Pipeline.kmvSketch(ev, col("event_type"),
                                    col("user_id"), k = K)
          .select(col("g"), col("hv"))
          .localCheckpoint()
        val per = sk.groupBy(col("g"))
          .agg(count(lit(1)).as("n_s"), max(col("hv")).as("kth"))
        def est(n: org.apache.spark.sql.Column,
                kth: org.apache.spark.sql.Column) =
          when(n < K, n.cast("double"))
            .otherwise(r4(lit((K - 1).toDouble) /
              (kth.cast("double") / lit(4294967296.0))))
        val types = per.select(col("g"))
        val pairs = types.alias("x")
          .join(types.alias("y"), col("x.g") < col("y.g"))
          .select(col("x.g").as("ta"), col("y.g").as("tb"))
        val m = pairs
          .join(sk, col("g") === col("ta") || col("g") === col("tb"))
          .select(col("ta"), col("tb"), col("hv")).distinct()
        val wm = Window.partitionBy(col("ta"), col("tb"))
          .orderBy(col("hv"))
        val mk = m.withColumn("rn", row_number().over(wm))
          .filter(col("rn") <= K)
          .groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n_m"), max(col("hv")).as("ukth"))
        val h = ev.select(col("event_type").as("g"),
                          Pipeline.hash32(col("user_id")).as("hv"))
          .distinct()
          .localCheckpoint()
        val inter = h.alias("p")
          .join(h.alias("q"),
                col("p.hv") === col("q.hv") && col("p.g") < col("q.g"))
          .groupBy(col("p.g").as("ia"), col("q.g").as("ib"))
          .agg(count(lit(1)).as("n_ex"))
        mk
          .join(per.select(col("g").as("ta"), col("n_s").as("na"),
                           col("kth").as("ka")), Seq("ta"))
          .join(per.select(col("g").as("tb"), col("n_s").as("nb"),
                           col("kth").as("kb")), Seq("tb"))
          .join(inter, col("ta") === col("ia") && col("tb") === col("ib"),
                "left")
          .withColumn("ea", est(col("na"), col("ka")))
          .withColumn("eb", est(col("nb"), col("kb")))
          .withColumn("eu", est(col("n_m"), col("ukth")))
          .select(col("ta").as("type_a"), col("tb").as("type_b"),
                  coalesce(col("n_ex"), lit(0L)).as("exact_inter"),
                  col("ea").as("est_a4"), col("eb").as("est_b4"),
                  col("eu").as("est_union4"),
                  r4(col("ea") + col("eb") - col("eu")).as("est_inter4"))
          .orderBy(col("type_a"), col("type_b"))
      },
      s"""WITH h AS (
        |  SELECT DISTINCT event_type AS g, ${u32Sql("user_id")} AS hv
        |  FROM events),
        |sk AS (
        |  SELECT g, hv FROM (
        |    SELECT g, hv,
        |      row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
        |    FROM h) WHERE rn <= 64),
        |per AS (SELECT g, COUNT(*) AS n_s, MAX(hv) AS kth
        |        FROM sk GROUP BY g),
        |pairs AS (SELECT x.g AS ta, y.g AS tb
        |          FROM per x JOIN per y ON x.g < y.g),
        |m AS (
        |  SELECT DISTINCT ta, tb, hv
        |  FROM pairs JOIN sk ON sk.g = ta OR sk.g = tb),
        |mk AS (
        |  SELECT ta, tb, COUNT(*) AS n_m, MAX(hv) AS ukth FROM (
        |    SELECT ta, tb, hv,
        |      row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
        |    FROM m) WHERE rn <= 64 GROUP BY ta, tb),
        |inter AS (
        |  SELECT p.g AS ia, q.g AS ib, COUNT(*) AS n_ex
        |  FROM h p JOIN h q ON p.hv = q.hv AND p.g < q.g
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT mk.ta, mk.tb, COALESCE(inter.n_ex, 0) AS exact_inter,
        |    pa.n_s AS na, pa.kth AS ka, pb.n_s AS nb, pb.kth AS kb,
        |    mk.n_m, mk.ukth
        |  FROM mk JOIN per pa ON pa.g = mk.ta
        |          JOIN per pb ON pb.g = mk.tb
        |  LEFT JOIN inter ON inter.ia = mk.ta AND inter.ib = mk.tb),
        |f AS (
        |  SELECT ta, tb, exact_inter,
        |    CASE WHEN na < 64 THEN CAST(na AS DOUBLE)
        |      ELSE round(63.0 / (CAST(ka AS DOUBLE) / 4294967296.0), 4)
        |        + 0 END AS ea,
        |    CASE WHEN nb < 64 THEN CAST(nb AS DOUBLE)
        |      ELSE round(63.0 / (CAST(kb AS DOUBLE) / 4294967296.0), 4)
        |        + 0 END AS eb,
        |    CASE WHEN n_m < 64 THEN CAST(n_m AS DOUBLE)
        |      ELSE round(63.0 / (CAST(ukth AS DOUBLE) / 4294967296.0), 4)
        |        + 0 END AS eu
        |  FROM j)
        |SELECT ta AS type_a, tb AS type_b,
        |  CAST(exact_inter AS BIGINT) AS exact_inter,
        |  ea AS est_a4, eb AS est_b4, eu AS est_union4,
        |  round(ea + eb - eu, 4) + 0 AS est_inter4
        |FROM f ORDER BY type_a, type_b""".stripMargin),

    Q(
      // LEAKAGE-SAFE train/val/test split: assignment hashes the
      // near-dup CLUSTER root, not the doc id — so two near-duplicate
      // documents can never straddle the train/eval boundary (the
      // classic eval-leakage bug a plain per-doc hash split ships:
      // q_split_train_holdout would happily put a doc in train and its
      // 95%-identical twin in test). Per split: docs, distinct
      // clusters, and the independently-recomputed count of clusters
      // present in >1 split — the oracle derives it from scratch, so a
      // regression that broke root-keyed assignment would surface as a
      // nonzero n_straddle on BOTH engines, not as a silent pass.
      // Scale shape: CC labels ⟕ corpus (label frame is pair-touched
      // docs only), the hash decision is map-side, and both reporting
      // aggs are split/cluster-cardinality sized.
      "q_split_leakage_safe",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"))
        val roots = graft.api.Dedup.connectedComponents(
          LlmOps.minhashPairs(s, d), "doc_a", "doc_b")
        val rooted = docs.join(roots, docs("doc_id") === roots("doc"),
                               "left")
          .select(col("doc_id"),
                  coalesce(col("root"), col("doc_id")).as("root"))
        val sp = Pipeline.splitAssign(rooted, col("root"), buckets = 20,
          assignments = Map(0 -> "test", 1 -> "val"),
          defaultSplit = "train")
        val strad = sp.groupBy(col("root"))
          .agg(countDistinct(col("split")).as("_ns"))
          .agg(coalesce(sum(when(col("_ns") > 1, 1L).otherwise(0L)),
                        lit(0L)).as("n_straddle"))
        sp.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(col("root")).as("n_clusters"),
               min(col("doc_id")).as("first_doc"))
          .crossJoin(broadcast(strad))
          .orderBy(col("split"))
      },
      s"""WITH RECURSIVE ${LlmOps.minhashPairsSql},
        |${LlmOps.ccCompSql},
        |rooted AS (
        |  SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS root
        |  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
        |sp AS (
        |  SELECT doc_id, root,
        |    CASE WHEN m = 0 THEN 'test'
        |         WHEN m = 1 THEN 'val' ELSE 'train' END AS split
        |  FROM (SELECT doc_id, root, (${u16Sql("root")}) % 20 AS m
        |        FROM rooted)),
        |strad AS (
        |  SELECT COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
        |      AS n_straddle
        |  FROM (SELECT root, COUNT(DISTINCT split) AS ns
        |        FROM sp GROUP BY root))
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT root) AS n_clusters, MIN(doc_id) AS first_doc,
        |  CAST(strad.n_straddle AS BIGINT) AS n_straddle
        |FROM sp CROSS JOIN strad
        |GROUP BY split, strad.n_straddle ORDER BY split""".stripMargin),

    Q(
      // the END-TO-END CURATION FUNNEL: raw → quality gate → exact
      // dedup → near dedup → decontamination, reported as surviving
      // docs + tokens per stage — the one-page artifact every corpus
      // build publishes, and a single query that composes FIVE of the
      // library's operators (Text.qualityGate, exact canonical pick,
      // Dedup.minhashPairs + connectedComponents, Pipeline
      // .contaminated) into one plan. Each doc gets its LAST surviving
      // stage (0–4); funnel rows are then one broadcast-range join to a
      // 5-row stage dimension — never five passes over the corpus.
      // Stage semantics are cumulative: the exact-dedup canonical is
      // the min doc_id among QUALITY survivors sharing the text; the
      // near-dup canonical is the min doc_id among exact-canonical
      // survivors sharing a CC root; decontamination drops 7-gram
      // overlap with the src0 benchmark slice.
      // Scale shape: one tokenize pass feeds the gate; dedup picks are
      // key-sized aggs joined back; contamination is the semi-join
      // from q_contamination; the corpus is scanned O(1) times, and
      // every reduction is integer counts (no float anywhere).
      "q_curate_funnel",
      (s, d) => {
        val all = Tables.documents(s, d)
        val corpus = all.filter(col("source") =!= "src0")
        val bench = all.filter(col("source") === "src0")
        // r13 (r12 verdict #8, guide §1.1 — TRIED AND REVERTED, both
        // variants): the quality/exact stage DOES carry a residual
        // diamond — g (the tokenize+gate pass) feeds exmin + r, and r
        // feeds nearmin + flagged: seven documents scans in
        // plans/r13/..._before.txt. Seaming g+r measured 0.82× at
        // sf0.1 and 0.76× at sf1 (plans/r13/ab/b3_*/b4_*: storing the
        // text-bearing gate frame costs more than re-tokenizing);
        // seaming ONLY the narrow r frame measured 0.40×
        // (plans/r13/ab/b5_*: the blocking materialization serializes
        // the g×3 recompute AND the CC join instead of letting the
        // branches overlap). The duplicate-branch shape stays, with
        // this note as the measured reason.
        val g = graft.api.Text.qualityGate(
            corpus.select(col("doc_id"), col("text")), col("text"))
          .select(col("doc_id"), col("text"), col("n_words"), col("pass"))
        val exmin = g.filter(col("pass")).groupBy(col("text"))
          .agg(min(col("doc_id")).as("_exmin"))
        val roots = graft.api.Dedup.connectedComponents(
          LlmOps.minhashPairs(s, d), "doc_a", "doc_b")
        val r = g.join(exmin, Seq("text"), "left")
          .join(roots, g("doc_id") === roots("doc"), "left")
          .select(g("doc_id").as("doc_id"), col("n_words"), col("pass"),
                  coalesce(col("doc_id") === col("_exmin"), lit(false))
                    .as("_exc"),
                  coalesce(col("root"), g("doc_id")).as("root"))
        val nearmin = r.filter(col("pass") && col("_exc"))
          .groupBy(col("root")).agg(min(col("doc_id")).as("_nearmin"))
        val contam = graft.api.Pipeline.contaminated(
            corpus, bench, col("doc_id"), col("text"), 7)
          .select(col("doc_id").as("_cid"))
        val flagged = r.join(nearmin, Seq("root"), "left")
          .join(contam, r("doc_id") === col("_cid"), "left")
          .select(col("doc_id"), col("n_words"),
                  when(!col("pass"), 0)
                    .when(!col("_exc"), 1)
                    .when(!coalesce(col("doc_id") === col("_nearmin"),
                                    lit(false)), 2)
                    .when(col("_cid").isNotNull, 3)
                    .otherwise(4).as("last"))
        val stages = s.createDataFrame(Seq(
            (0, "raw"), (1, "quality"), (2, "exact_dedup"),
            (3, "near_dedup"), (4, "decontaminated")))
          .toDF("stage_no", "stage")
        // reduce the corpus to ≤5 (last, count, tokens) rows FIRST, so
        // the non-equi stage range-join is tiny×tiny — a direct
        // broadcast(stages) ⟕ corpus range-join cannot build the
        // 5-row side (build-left is unsupported for LEFT OUTER) and
        // would fall back to broadcasting the CORPUS side
        val byLast = flagged.groupBy(col("last"))
          .agg(count(lit(1)).as("_n"), sum(col("n_words")).as("_t"))
        stages.join(byLast, col("last") >= col("stage_no"), "left")
          .groupBy(col("stage_no"), col("stage"))
          .agg(coalesce(sum(col("_n")), lit(0L)).as("n_docs"),
               coalesce(sum(col("_t")), lit(0L)).as("n_tokens"))
          .orderBy(col("stage_no"))
      },
      s"""WITH RECURSIVE ${LlmOps.minhashPairsSql},
        |${LlmOps.ccCompSql},
        |corp AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |f AS (SELECT doc_id, text, ${toksSql("text")} AS w FROM corp),
        |m AS (
        |  SELECT doc_id, text, len(w) AS n_words,
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
        |q AS (
        |  SELECT doc_id, text, CAST(n_words AS BIGINT) AS n_words,
        |    ((n_words BETWEEN 20 AND 90) AND mean_wl >= 4.0
        |     AND mean_wl <= 5.0 AND stop_frac >= 0.01 AND dup2 <= 0.06)
        |      AS pass
        |  FROM m),
        |ex AS (SELECT text, MIN(doc_id) AS exmin
        |       FROM q WHERE pass GROUP BY text),
        |r AS (
        |  SELECT q.doc_id, q.n_words, q.pass,
        |    COALESCE(q.doc_id = ex.exmin, FALSE) AS exc,
        |    COALESCE(c.root, q.doc_id) AS root
        |  FROM q LEFT JOIN ex ON ex.text = q.text
        |         LEFT JOIN comp c ON c.doc = q.doc_id),
        |nm AS (SELECT root, MIN(doc_id) AS nearmin
        |       FROM r WHERE pass AND exc GROUP BY root),
        |ctok AS (
        |  SELECT doc_id, source, ${toksSql("text")} AS w FROM documents),
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
        |fl AS (
        |  SELECT r.doc_id, r.n_words,
        |    CASE WHEN NOT r.pass THEN 0
        |         WHEN NOT r.exc THEN 1
        |         WHEN NOT COALESCE(r.doc_id = nm.nearmin, FALSE) THEN 2
        |         WHEN r.doc_id IN (SELECT doc_id FROM contam) THEN 3
        |         ELSE 4 END AS last
        |  FROM r LEFT JOIN nm ON nm.root = r.root),
        |st(stage_no, stage) AS (
        |  VALUES (0, 'raw'), (1, 'quality'), (2, 'exact_dedup'),
        |         (3, 'near_dedup'), (4, 'decontaminated'))
        |SELECT st.stage_no, st.stage, COUNT(fl.doc_id) AS n_docs,
        |  CAST(COALESCE(SUM(fl.n_words), 0) AS BIGINT) AS n_tokens
        |FROM st LEFT JOIN fl ON fl.last >= st.stage_no
        |GROUP BY st.stage_no, st.stage ORDER BY st.stage_no""".stripMargin),

    Q(
      // Water-filling source allocation (max-min fairness): spend a
      // char budget T = half the corpus across sources by filling every
      // source up to a common water level λ, small sources kept whole —
      // the canonical "no source dominates the mix" budget split
      // (progressive capping), solved EXACTLY in integers: sort sources
      // by avail, k* = max prefix that fills completely (avail_k ≤
      // (T−cum_k) div (n−k)), λ = (T−cum_k*) div (n−k*), and the mod
      // remainder goes +1 each to the first rem unfilled sources in
      // name order — Σalloc = T to the char, replayable anywhere.
      // Negative-quotient candidates can never pass the validity test
      // (avail ≥ 1), so Spark's truncating `div` and DuckDB's flooring
      // `//` agree on every comparison that matters. Scale: one corpus
      // hash-agg to |sources| rows; ALL allocation math runs on that
      // bounded domain.
      "q_mix_waterfill",
      (s, d) => Pipeline.waterfill(
          Tables.documents(s, d), col("source"), col("n_chars"))
        .select(col("_g").as("source"), col("avail"), col("alloc"),
                intRatio4(col("alloc") * 10000L, col("avail"))
                  .as("fill4"))
        .orderBy(col("source")),
      """WITH s AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS avail
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(SUM(avail) AS BIGINT) AS tott, COUNT(*) AS n
        |  FROM s),
        |r AS (
        |  SELECT source, avail,
        |    ROW_NUMBER() OVER (ORDER BY avail, source) AS k,
        |    CAST(SUM(avail) OVER (ORDER BY avail, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM s),
        |t2 AS (SELECT tott // 2 AS t, n FROM tot),
        |cand AS (
        |  SELECT MAX(k) AS kstar FROM r, t2
        |  WHERE k < n AND avail <= (t - cum) // (n - k)),
        |ks AS (SELECT COALESCE(kstar, 0) AS ks FROM cand),
        |lam AS (
        |  SELECT t2.t, t2.n, ks.ks,
        |    COALESCE(MAX(CASE WHEN r.k = ks.ks THEN r.cum END), 0)
        |      AS cumk
        |  FROM r, t2, ks GROUP BY t2.t, t2.n, ks.ks),
        |lam2 AS (
        |  SELECT ks, (t - cumk) // (n - ks) AS lam,
        |    (t - cumk) % (n - ks) AS rem
        |  FROM lam),
        |u AS (
        |  SELECT r.source, r.avail, r.k, l.ks, l.lam, l.rem,
        |    SUM(CASE WHEN r.k > l.ks THEN 1 ELSE 0 END)
        |      OVER (ORDER BY r.source
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS urank
        |  FROM r, lam2 l)
        |SELECT source, avail,
        |  CAST(CASE WHEN k <= ks THEN avail
        |       ELSE lam + (CASE WHEN urank <= rem THEN 1 ELSE 0 END)
        |       END AS BIGINT) AS alloc,
        |  CAST((2*(CAST(CASE WHEN k <= ks THEN avail
        |       ELSE lam + (CASE WHEN urank <= rem THEN 1 ELSE 0 END)
        |       END AS BIGINT)*10000) + avail) // (2*avail) AS DOUBLE)
        |    / 10000.0 AS fill4
        |FROM u ORDER BY source""".stripMargin),

    Q(
      // MIN-MAX feature scaling per group — the (x−min)/(max−min)
      // normalization every feature pipeline runs before training,
      // verified at the GROUP-REPORT level: each row's normalized
      // value is computed as an exact half-up integer in 1e-4 units
      // (the [0,10000] grid), so the per-type sum/mean of normalized
      // values is a pure integer reduction — a float normalize-then-
      // sum would be partition-order dependent and engine-divergent.
      // Scale shape: one min/max hash-agg broadcast back, one
      // conditional hash-agg; the normalize itself is map-side.
      "q_agg_minmax_scale",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"),
                  (money("value") * 100).cast("long").as("vc"))
        val mm = e.groupBy(col("event_type"))
          .agg(min(col("vc")).as("mn"), max(col("vc")).as("mx"))
          .filter(col("mx") > col("mn"))
          .select(col("event_type").as("t1"), col("mn"), col("mx"))
        val nn = halfUpDivWide((col("vc") - col("mn")) * 10000L,
                               col("mx") - col("mn"))
        e.join(broadcast(mm), col("event_type") === col("t1"))
          .select(col("event_type"), col("mn"), col("mx"),
                  nn.as("nn"))
          .groupBy(col("event_type"), col("mn"), col("mx"))
          .agg(count(lit(1)).as("n"), sum(col("nn")).as("_sn"))
          .select(col("event_type"), col("n"),
                  (col("mn").cast("double") / 100.0).as("min_v"),
                  (col("mx").cast("double") / 100.0).as("max_v"),
                  intRatio4Wide(col("_sn"), col("n")).as("norm_mean4"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
        |  FROM events),
        |mm AS (
        |  SELECT event_type, MIN(vc) AS mn, MAX(vc) AS mx
        |  FROM e GROUP BY event_type
        |  HAVING MAX(vc) > MIN(vc)),
        |nn AS (
        |  SELECT e.event_type, mn, mx,
        |    (2 * (CAST(vc - mn AS HUGEINT) * 10000)
        |     + CAST(mx - mn AS HUGEINT))
        |      // (2 * CAST(mx - mn AS HUGEINT)) AS nn
        |  FROM e JOIN mm USING (event_type)),
        |g AS (
        |  SELECT event_type, mn, mx, COUNT(*) AS n,
        |    CAST(SUM(nn) AS HUGEINT) AS sn
        |  FROM nn GROUP BY event_type, mn, mx)
        |SELECT event_type, n,
        |  CAST(mn AS DOUBLE) / 100.0 AS min_v,
        |  CAST(mx AS DOUBLE) / 100.0 AS max_v,
        |  CAST((2 * sn + CAST(n AS HUGEINT)) // (2 * CAST(n AS HUGEINT))
        |       AS DOUBLE) / 10000.0 AS norm_mean4
        |FROM g ORDER BY event_type""".stripMargin),

    Q(
      // Mixture budgeting on the DEDUPED corpus — q_mix_budget's
      // keep-rates recomputed over exact-dedup survivors (min doc_id
      // per identical text), because budgeting on RAW token counts
      // over-allocates every stratum in proportion to its duplication
      // (the classic mixing mistake: dup-heavy crawls eat the budget
      // twice). Composes exact dedup → tokenCounts → mixRates, all
      // three through the public api layer; rates land on the same
      // rounded 1e-4 grid as q_mix_budget so the two tables diff
      // cleanly.
      // Scale shape: ONE text-keyed hash-agg picks canonicals
      // (keep-min, no window), semi-join back, then the mix math on
      // the |langs| frame.
      "q_mix_dedup_budget",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keep = docs.groupBy(col("text"))
          .agg(min(col("doc_id")).as("_kid"))
          .select(col("_kid"))
        val kept = docs.join(keep, docs("doc_id") === col("_kid"),
                             "left_semi")
        graft.api.Pipeline.mixRates(
            graft.api.Text.tokenCounts(kept, col("text")),
            col("lang"), col("n_bpe"),
            weights = Map("en" -> 0.3, "de" -> 0.1, "es" -> 0.1,
                          "fr" -> 0.1, "zh" -> 0.8),
            budget = 10000L)
          .orderBy(col("stratum"))
      },
      """WITH keep AS (
        |  SELECT MIN(doc_id) AS kid FROM documents GROUP BY text),
        |kept AS (
        |  SELECT d.lang, d.text FROM documents d
        |  WHERE d.doc_id IN (SELECT kid FROM keep)),
        |tok AS (
        |  SELECT lang,
        |    list_sum(list_transform(string_split(text, ' '),
        |      w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS n
        |  FROM kept),
        |tot AS (
        |  SELECT lang AS stratum, CAST(SUM(n) AS BIGINT) AS toks
        |  FROM tok GROUP BY lang),
        |w(s2, wt) AS (VALUES
        |  ('de', 0.1), ('en', 0.3), ('es', 0.1), ('fr', 0.1),
        |  ('zh', 0.8))
        |SELECT stratum, toks,
        |  round(least(1.0, 10000 * wt / toks), 4) + 0 AS rate,
        |  CAST(floor(toks * (round(least(1.0, 10000 * wt / toks), 4)
        |                     + 0)) AS BIGINT) AS kept_toks
        |FROM tot JOIN w ON stratum = s2 ORDER BY stratum""".stripMargin),

    Q(
      // HORVITZ–THOMPSON estimator audit: estimate each language's
      // TOTAL token mass from the deterministic stratified sample
      // alone (est = Σ_kept w/π with the exact inclusion probability
      // π = thr/65536 of the q_sample_stratified rule) and compare
      // against the true total — the closed loop that certifies the
      // sampling math end-to-end (sample → inverse-probability
      // estimate → truth), which a survey statistician runs before
      // trusting ANY sampled metric. est is an exact rational
      // (Σkept·65536 one wide half-up division by thr); the relative
      // error is the wide ratio of exact integers.
      // Scale shape: the keep test is the map-side hash threshold;
      // two lang-keyed hash-aggs; k-row math after.
      "q_sample_ht_estimate",
      (s, d) => {
        val D = org.apache.spark.sql.types.DecimalType(38, 0)
        val toks = graft.api.Text.tokenCounts(
          Tables.documents(s, d), col("text"))
          .select(col("lang"), col("doc_id"), col("n_bpe"))
        val thr = when(col("lang") === "en", 16384L).otherwise(49152L)
        val act = toks.groupBy(col("lang"))
          .agg(sum(col("n_bpe")).as("actual"))
        val est = toks
          .filter(graft.api.Pipeline.hash16(col("doc_id")) < thr)
          .groupBy(col("lang"))
          .agg(sum(col("n_bpe")).as("_ks"), count(lit(1)).as("n_kept"))
          .withColumn("_thr", thr)
          .withColumn("est",
            halfUpDivWide(col("_ks").cast(D) * 65536, col("_thr"))
              .cast("long"))
        act.join(est, Seq("lang"), "left")
          .select(col("lang"), col("actual"),
                  coalesce(col("n_kept"), lit(0L)).as("n_kept"),
                  coalesce(col("est"), lit(0L)).as("ht_estimate"),
                  intRatio4Wide(
                    abs(coalesce(col("est"), lit(0L)) - col("actual"))
                      .cast(D) * 10000,
                    col("actual")).as("rel_err4"))
          .orderBy(col("lang"))
      },
      s"""WITH toks AS (
        |  SELECT lang, doc_id,
        |    list_sum(list_transform(string_split(text, ' '),
        |      w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS n_bpe,
        |    ${u16Sql("doc_id")} AS u,
        |    CASE WHEN lang = 'en' THEN 16384 ELSE 49152 END AS thr
        |  FROM documents),
        |act AS (
        |  SELECT lang, CAST(SUM(n_bpe) AS BIGINT) AS actual
        |  FROM toks GROUP BY lang),
        |est AS (
        |  SELECT lang, COUNT(*) AS n_kept,
        |    CAST((2 * (CAST(SUM(n_bpe) AS HUGEINT) * 65536)
        |          + CAST(MIN(thr) AS HUGEINT))
        |         // (2 * CAST(MIN(thr) AS HUGEINT)) AS BIGINT) AS est
        |  FROM toks WHERE u < thr GROUP BY lang)
        |SELECT act.lang, act.actual,
        |  COALESCE(est.n_kept, 0) AS n_kept,
        |  COALESCE(est.est, 0) AS ht_estimate,
        |  CAST((2 * (CAST(abs(COALESCE(est.est, 0) - act.actual)
        |                  AS HUGEINT) * 10000)
        |        + CAST(act.actual AS HUGEINT))
        |       // (2 * CAST(act.actual AS HUGEINT)) AS DOUBLE)
        |    / 10000.0 AS rel_err4
        |FROM act LEFT JOIN est ON act.lang = est.lang
        |ORDER BY act.lang""".stripMargin)
  )
}
