package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, parameterized text-analysis API — the reusable forms of the
  * `q_text_*` / `q_fn_levenshtein` operators (which delegate here where
  * the shapes line up, so the oracle gate verifies this code). All
  * per-document transforms are map-side; corpus-level statistics come
  * from explode + hash-agg with small broadcast joins.
  */
object Text {

  /** Unigram-profile language identification: build top-`profileSize`
    * term profiles per known language from a labeled corpus, then
    * predict each doc's language as argmax(profile hits) over its
    * distinct tokens (tiebreak: language asc). Returns
    * (doc_id, predicted). The profile is tiny (langs × profileSize)
    * and broadcasts; docs with zero profile hits get no row (callers
    * left-join if they need "unknown"). */
  def languageId(
      df: DataFrame, id: Column, text: Column, lang: Column,
      profileSize: Int = 5): DataFrame = {
    val tokens = df.select(
      id.as("doc_id"), lang.as("lang"),
      explode(split(text, " ")).as("term"))
    // r13 (guide §2.3/§3.2): the hit side used to DISTINCT the whole
    // (doc, term) corpus — a corpus-sized exchange — before meeting the
    // tiny profile. (An interim r13 variant instead shared one
    // (doc, term)-grain aggregation behind a seam; the interleaved A/B
    // measured it 0.81× — the materialized corpus-grain frame cost
    // more than the tokenize pass it saved.) Now NOTHING corpus-sized
    // is ever shuffled: the profile builds from its own map-side-
    // combinable (lang, term) aggregation (vocabulary-sized exchange),
    // and the hit side joins the raw token stream against the
    // BROADCAST profile first — dropping every non-profile token
    // map-side — then deduplicates the tiny surviving frame with
    // count(DISTINCT term). Identical results: a doc's distinct
    // profile terms are counted once per (doc, lang) either way.
    val profile = tokens
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("n").desc, col("term").asc)))
      .filter(col("rn") <= profileSize)
      .select(col("lang").as("p_lang"), col("term").as("p_term"))
    val hits = tokens.select(col("doc_id"), col("term"))
      .join(broadcast(profile), col("term") === col("p_term"))
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(countDistinct(col("term")).as("hits"))
    hits
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("hits").desc, col("p_lang").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("p_lang").as("predicted"))
  }

  /** Heuristic quality score in [0, 1]: length saturation (chars /
    * `saturation`), 1 − stopword ratio, and mean-word-length saturation,
    * blended 0.4/0.3/0.3. Integer counts flow through exactly-rounded
    * IEEE ops, so the score is engine-portable. Adds column `score`. */
  def qualityScore(
      df: DataFrame, text: Column, nChars: Column,
      stopwords: Seq[String] = Seq("the", "a"),
      saturation: Double = 500.0): DataFrame = {
    val w = split(text, " ")
    // foldLeft, not reduce: an empty stopword list is a legitimate
    // parameterization (score without the stopword term) and must not
    // throw at plan construction
    val isStop = (t: Column) =>
      stopwords.foldLeft(lit(false))((acc, s) => acc || t === s)
    df.withColumn("_chars", nChars.cast("double"))
      .withColumn("_ntok", size(w).cast("double"))
      .withColumn("_nstop", size(filter(w, isStop)).cast("double"))
      .withColumn("score",
        least(col("_chars") / saturation, lit(1.0)) * 0.4 +
        (lit(1.0) - col("_nstop") / col("_ntok")) * 0.3 +
        least((col("_chars") - col("_ntok") + 1.0) / col("_ntok") / 8.0,
              lit(1.0)) * 0.3)
      .drop("_chars", "_ntok", "_nstop")
  }

  /** Token accounting per row: whitespace token count (`n_ws`) and a
    * BPE-ish subword estimate (`n_bpe` = Σ ceil(len(word)/`charsPerTok`)
    * — the "~4 chars per token" rule used to size LLM corpora; integer
    * math, exactly portable). */
  def tokenCounts(
      df: DataFrame, text: Column, charsPerTok: Double = 4.0): DataFrame =
    df.withColumn("_w", split(text, " "))
      .withColumn("n_ws", size(col("_w")))
      .withColumn("n_bpe",
        aggregate(col("_w"), lit(0L),
          (acc, t) => acc + ceil(length(t) / lit(charsPerTok))))
      .drop("_w")

  /** Sequential regex redaction (PII scrubbing): each (pattern,
    * replacement) pair is applied in order with GLOBAL semantics —
    * order matters (redact emails before bare digit runs, or the
    * run inside the address wins). Patterns must stay inside the
    * RE2-compatible subset (character classes, bounded repetition; no
    * lookaround) so an external engine can reproduce the scrub
    * byte-for-byte. Map-side only: a chain of codegen'd
    * `regexp_replace` calls, no shuffle, no UDF. */
  def redact(
      df: DataFrame, text: Column,
      patterns: Seq[(String, String)] = PiiPatterns,
      out: String = "redacted"): DataFrame =
    df.withColumn(out,
      patterns.foldLeft(text) { case (c, (pat, repl)) =>
        regexp_replace(c, pat, repl)
      })

  /** Default scrub set: emails, dotted-quad IPs, then long digit runs
    * (ids, phones, SSN-ish) — in that order, so the broader patterns
    * see only what the narrower ones left behind. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "[0-9]{6,}" -> "<ID>")

  /** Canonical URL form for URL-level dedup: scheme+host lowercased,
    * tracking parameters (utm_*, ref) stripped from the QUERY STRING
    * only, separators repaired (a leading parameter promoted to `?`
    * when the original first parameter was tracking). The tail is
    * split at the first `?` before any rewrite, so an `&` or a
    * `ref=`-shaped segment in the PATH (RFC-legal: `/wiki/AT&T`) is
    * never touched — an earlier draft rewrote those and corrupted the
    * URL. Pure regex pipeline in the RE2-compatible subset, so the
    * oracle twin reproduces it with regexp_replace(…, 'g').
    * Fragments (#…) are treated as part of the tail; strip them first
    * if the corpus carries them. */
  def normalizeUrl(url: Column): Column = {
    val hostPat = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
    val head = lower(regexp_extract(url, s"($hostPat)", 1))
    val tail = regexp_replace(url, hostPat, "")
    val path = regexp_extract(tail, "^[^?]*", 0)
    val query = regexp_replace(tail, "^[^?]*", "")
    val stripped =
      regexp_replace(query, "[?&](utm_[a-z0-9_]+|ref)=[^&]*", "")
    concat(head, path, regexp_replace(stripped, "^&", "?"))
  }

  /** Each doc's distinct word n-gram shingles: (doc_id, sh). */
  private def docShingles(df: DataFrame, id: Column, text: Column,
                          n: Int): DataFrame =
    df.select(id.as("doc_id"), Dedup.tokens(text).as("w"))
      .filter(size(col("w")) >= n)
      // explode_outer + null filter, NOT explode: InferFiltersFromGenerate
      // would push the shingle expression into the scan 3× (SCALE.md)
      .select(col("doc_id"),
              explode_outer(expr(Dedup.shingleExpr(n))).as("sh"))
      .filter(col("sh").isNotNull)

  /** Per-document boilerplate measurement (the line-frequency idea of
    * CCNet/RefinedWeb, expressed over the canonical shingle space): a
    * shingle is "boilerplate" when its document frequency exceeds
    * `minDocFrac` of the corpus, and each doc reports how much of it
    * is made of such shingles. Returns (doc_id, n_sh, n_boiler).
    *
    * Scale shape: explode → two hash-aggs (per-doc totals, corpus doc
    * frequency); the hot set is tiny BY DEFINITION (Σ dfreq ≤ docs ×
    * shingles/doc, so at most shinglesPerDoc/minDocFrac shingles can
    * clear the bar) and broadcasts into a semi-join — the corpus-sized
    * side never reshuffles on content. The corpus total is a one-row
    * scalar aggregate cross-joined in (never a driver-side count()). */
  def boilerplateStats(
      df: DataFrame, id: Column, text: Column,
      n: Int = 2, minDocFrac: Double = 0.07): DataFrame = {
    require(n >= 1, "boilerplateStats: n must be >= 1")
    val exploded = docShingles(df, id, text, n)
    val nDocs = df.select(count(lit(1)).as("_n_docs"))
    val hot = exploded.groupBy(col("sh"))
      .agg(count(lit(1)).as("_dfreq"))
      .crossJoin(broadcast(nDocs))
      .filter(col("_dfreq") > col("_n_docs") * minDocFrac)
      .select(col("sh").as("hot_sh"))
    // ONE probe pass: a left join against the broadcast hot set marks
    // boilerplate rows in place, so total and boilerplate counts come
    // from the same aggregate (a separate semi-join branch would
    // re-explode the corpus — no cross-branch CSE). hot_sh is grouped-
    // distinct, so the join never duplicates rows.
    exploded
      .join(broadcast(hot), col("sh") === col("hot_sh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), count(col("hot_sh")).as("n_boiler"))
  }

  /** Per-document Shannon entropy of the token distribution (nats) —
    * low entropy flags repetitive/templated text, the cheap cousin of
    * a perplexity filter. H = ln N − (Σ n·ln n)/N from one explode +
    * two hash-aggs; integer counts, one double reduction (callers
    * round corpus-level aggregates, R3). Returns (doc_id, n_tokens,
    * entropy). */
  def tokenEntropy(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
              explode_outer(Dedup.tokens(text)).as("t"))
      .filter(col("t").isNotNull)
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
           sum(col("n") * log(col("n").cast("double"))).as("_nlogn"))
      .select(col("doc_id"), col("n_tokens"),
              (log(col("n_tokens").cast("double")) -
               col("_nlogn") / col("n_tokens")).as("entropy"))

  /** Per-document fluency under a corpus-trained bigram language model
    * with add-one smoothing — the cheap stand-in for the KenLM
    * perplexity filter every corpus scrub runs (CCNet/Gopher lineage):
    * nll = (1/n)·Σ [ln(C(w1)+V) − ln(C(w1,w2)+1)] over the doc's
    * bigrams, where C() are corpus counts and V the corpus vocabulary.
    * High nll = improbable word sequences (MT garbage, OCR noise,
    * keyword stuffing); low = fluent or boilerplate-common text.
    *
    * Scale shape: the bigram explode happens ONCE; both count
    * attachments are window counts over that same pass (the
    * [[dupNgramStats]] trick — partition-by (w1,w2) then by w1), so the
    * corpus shuffles twice on n-gram keys and once on doc_id, with no
    * second scan and no count-table joins. V is a one-row broadcast.
    * Integer counts everywhere; the ln/divide reduction happens once
    * per doc (callers round corpus-level aggregates, R3).
    * Returns (doc_id, n_bigrams, nll). */
  def bigramLmScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = df.select(id.as("doc_id"), Dedup.tokens(text).as("w"))
    val v = tok.select(explode_outer(col("w")).as("t"))
      .filter(col("t").isNotNull)
      .agg(countDistinct(col("t")).as("_v"))
    tok.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 1),
           i -> struct(element_at(w, i) AS w1,
                       element_at(w, i + 1) AS w2))""")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .withColumn("_c2",
        count(lit(1)).over(Window.partitionBy(col("w1"), col("w2"))))
      .withColumn("_c1",
        count(lit(1)).over(Window.partitionBy(col("w1"))))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(log(col("_c1").cast("double") + col("_v")) -
               log(col("_c2").cast("double") + 1)).as("_s"))
      .select(col("doc_id"), col("n_bigrams"),
              (col("_s") / col("n_bigrams")).as("nll"))
  }

  /** Corpus-weighted adjacent-character-pair frequencies — the
    * statistics a BPE tokenizer trainer consumes for its FIRST merge
    * decision, and the oracle-checkable face of [[bpeTrain]].
    *
    * Scale shape: the raw corpus shuffles ONCE, into the word-frequency
    * dict; the character-pair explode then runs over DISTINCT words
    * only (a dict is orders of magnitude smaller than its corpus —
    * this dict-first factoring is precisely why real BPE trainers
    * scale). Returns (pair string-of-2, n = Σ word-freq). */
  def bpePairStats(df: DataFrame, text: Column): DataFrame =
    df.select(explode_outer(Dedup.tokens(text)).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("f"))
      .groupBy(col("pair")).agg(sum(col("f")).as("n"))

  /** Deterministic BPE tokenizer training: aggregate the corpus to a
    * word-frequency dict (one shuffle), take the `topWords` most
    * frequent words (ties to the lexicographically smaller — replayable
    * on any cluster size), then run the classic merge loop on the
    * driver: each word is a char sequence ending in "&lt;/w&gt;", each
    * round merges the pair with the highest corpus-weighted frequency
    * (ties to the lexicographically smaller (left, right)).
    *
    * The driver-side loop is NOT a scale compromise — it is how
    * production trainers (sentencepiece, HF tokenizers) work: the
    * merge loop's input is the bounded dict, never the corpus, and
    * `topWords` caps its memory explicitly. The one distributed pass
    * is the dict aggregation.
    * Returns the merge table in order: (rank, left, right, freq). */
  def bpeTrain(
      df: DataFrame, text: Column,
      merges: Int, topWords: Int = 65536): Seq[(Int, String, String, Long)] = {
    require(merges >= 0, "bpeTrain: merges must be >= 0")
    require(topWords >= 1, "bpeTrain: topWords must be >= 1")
    val dict0 = df
      .select(explode_outer(Dedup.tokens(text)).as("w"))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc)
      .limit(topWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val EOW = "</w>"
    var dict: Array[(Vector[String], Long)] =
      dict0.map { case (w, f) =>
        (w.map(_.toString).toVector :+ EOW, f)
      }
    val out = Vector.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= merges && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((rank, l, r, n))
        val merged = l + r
        dict = dict.map { case (syms, f) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              b += merged; i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.result(), f)
        }
        rank += 1
      }
    }
    out.result()
  }

  /** Cross-document duplicated-n-gram measurement (the RefinedWeb
    * "fraction of a document made of corpus-repeated n-grams" filter —
    * distinct from within-doc repetition, which [[qualityGate]]'s dup2
    * covers, and from [[boilerplateStats]], whose hot set is tiny by a
    * frac-df bar). A doc's n-gram is "duplicated" when it occurs in ≥
    * `minDf` documents. Returns (doc_id, n_sh, n_dup).
    *
    * Scale shape: df ≥ 2 selects a LARGE share of shingles (unlike the
    * boilerplate hot set), so nothing here broadcasts. One window
    * count over partition-by-shingle attaches each shingle's document
    * frequency in the same pass that probes it — one content shuffle
    * total, where the agg+join formulation pays a second shuffle+sort
    * for the probe side. */
  def dupNgramStats(
      df: DataFrame, id: Column, text: Column,
      n: Int = 3, minDf: Int = 2): DataFrame = {
    require(n >= 1 && minDf >= 1, "dupNgramStats: n and minDf must be >= 1")
    val exploded = docShingles(df, id, text, n)
    // shingleExpr is per-doc distinct, so count(*) per shingle IS the
    // document frequency — no distinct shuffle needed
    exploded
      .withColumn("_df",
        count(lit(1)).over(Window.partitionBy(col("sh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
           sum(when(col("_df") >= minDf, 1L).otherwise(0L)).as("n_dup"))
  }

  /** Gopher-style hard quality gate: per-document rule booleans over
    * word count, mean word length, stopword fraction, and within-doc
    * bigram repetition — the four cheap rules every corpus scrub runs
    * before any model-based filter. Adds metric columns (n_words,
    * mean_wl, stop_frac, dup2) and rule columns (pass_len, pass_wl,
    * pass_stop, pass_rep, pass). Entirely map-side: token-array math
    * per row, no shuffle, no UDF. The mean word length is measured
    * from the tokens themselves (Σ len(tᵢ) / n), not inferred from
    * n_chars, so multi-space text is measured, not guessed. */
  def qualityGate(
      df: DataFrame, text: Column,
      minWords: Int = 20, maxWords: Int = 90,
      minMeanWl: Double = 4.0, maxMeanWl: Double = 5.0,
      minStopFrac: Double = 0.01, maxDup2: Double = 0.06,
      stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    val isStop = (t: Column) =>
      stopwords.foldLeft(lit(false))((acc, s) => acc || t === s)
    df.withColumn("w", Dedup.tokens(text))
      .withColumn("n_words", size(col("w")).cast("bigint"))
      .withColumn("mean_wl",
        aggregate(col("w"), lit(0L), (acc, t) => acc + length(t))
          .cast("double") / col("n_words"))
      .withColumn("stop_frac",
        size(filter(col("w"), isStop)).cast("double") / col("n_words"))
      // guarded: sequence(0, n-2) DESCENDS when n < 2 (Spark default
      // step −1), so the bigram expression must never see a 1-token doc
      .withColumn("dup2",
        when(col("n_words") >= 2,
          lit(1.0) - size(expr(Dedup.shingleExpr(2))).cast("double") /
            (col("n_words") - 1))
          .otherwise(lit(0.0)))
      .withColumn("pass_len",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("pass_wl",
        col("mean_wl") >= minMeanWl && col("mean_wl") <= maxMeanWl)
      .withColumn("pass_stop", col("stop_frac") >= minStopFrac)
      .withColumn("pass_rep", col("dup2") <= maxDup2)
      .withColumn("pass",
        col("pass_len") && col("pass_wl") &&
        col("pass_stop") && col("pass_rep"))
      .drop("w")
  }

  /** CCNet-style LINE-level dedup: drop every line that appears in
    * more than `maxLineDocFreq` documents (license headers, nav bars,
    * cookie banners — the boilerplate that survives doc-level dedup
    * because its HOST documents differ), then reassemble each document
    * from its surviving lines IN ORDER. Fixture text has no newlines,
    * so a "line" is an aligned `lineWords`-word chunk; real corpora
    * pass a newline-split instead — the mechanics (corpus-frequency
    * filter + order-preserving rebuild) are identical.
    *
    * Scale shape: one explode to (doc, pos, line); the hot set joins
    * LEFT ANTI with the strategy left to AQE — at a high boilerplate
    * cap (lines in >N≫1 docs) it broadcasts, at the strict default
    * (any line in 2 docs) it is corpus-sized and must shuffle; the
    * rebuild is one hash-agg whose sort is per-document array_sort
    * over that doc's own lines, never a corpus-wide window. Returns
    * (doc_id, n_lines, n_kept, clean_text); fully-boilerplate docs
    * come back with clean_text = ''. */
  /** ONE definition of the aligned/overlapping token-window split,
    * shared by lineDedup (stride == size) and the RAG chunker
    * (overlapping): window count = ⌈max(0, n−size)/stride⌉ + 1 in
    * exact integer math (every token covered, short tail kept,
    * singleton docs get one window), windows from 1-based `slice` over
    * a token column named `w`, counted by `countCol`. Oracle twin:
    * `(greatest(len(w)-size,0) + stride-1) // stride + 1` and
    * `w[i*stride+1 : i*stride+size]`. */
  private[graft] def windowCountExpr(size: Int, stride: Int): String =
    s"(greatest(size(w) - $size, 0) + $stride - 1) div $stride + 1"

  private[graft] def windowSplitExpr(
      size: Int, stride: Int, countCol: String): String =
    s"""transform(sequence(0, cast($countCol as int) - 1),
       |  i -> concat_ws(' ', slice(w, i * $stride + 1, $size)))""".stripMargin

  def lineDedup(
      df: DataFrame, id: Column, text: Column,
      lineWords: Int = 10, maxLineDocFreq: Int = 1): DataFrame = {
    require(lineWords >= 1 && maxLineDocFreq >= 1)
    val base = df.select(id.as("doc_id"), Dedup.tokens(text).as("w"))
      .filter(size(col("w")) > 0)
      .withColumn("n_lines",
        expr(windowCountExpr(lineWords, lineWords)).cast("long"))
    val lines = base.select(col("doc_id"),
        posexplode(expr(
          windowSplitExpr(lineWords, lineWords, "n_lines"))))
      .toDF("doc_id", "pos", "line")
    val hot = lines.select(col("doc_id"), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxLineDocFreq)
      .select(col("line"))
    // NO broadcast hint: at a low doc-freq cap the hot set is
    // corpus-sized (every line two pages share), not "tiny" — only a
    // high-N boilerplate cap keeps it small. Let AQE pick the strategy
    // from actual sizes.
    val keep = lines.join(hot, Seq("line"), "left_anti")
    val rebuilt = keep.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           array_join(
             transform(array_sort(collect_list(struct(col("pos"),
                                                      col("line")))),
                       x => x.getField("line")), " ").as("clean_text"))
    base.select(col("doc_id"), col("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Rolling-hash document fingerprint (md5-derived word values in
    * 0..255, position weights 31^(i mod 8), mod 2^31−1) — pure integer
    * math, identical in any engine. Equal fingerprints = exact (or
    * reordered-within-period) duplicate candidates. Adds column `fp`. */
  def fingerprint(df: DataFrame, text: Column): DataFrame =
    df.withColumn("_w", split(text, " "))
      .withColumn("fp",
        expr(
          """aggregate(
            |  zip_with(
            |    transform(_w, t ->
            |      (instr('0123456789abcdef', substring(md5(t), 1, 1)) - 1) * 16
            |    + (instr('0123456789abcdef', substring(md5(t), 2, 1)) - 1)),
            |    sequence(0, size(_w) - 1),
            |    (v, i) -> cast(v as bigint)
            |            * cast(pow(31D, cast(i % 8 as double)) as bigint)),
            |  0L, (acc, x) -> acc + x)""".stripMargin)
          % 2147483647L)
      .drop("_w")

  /** Apply a trained BPE merge table ([[bpeTrain]]'s output) to a text
    * column: adds `bpe` (the sub-word symbol array, `</w>`-terminated
    * per word) and `n_bpe_tokens` — the tokenizer-accurate token count
    * a packing/budget stage should use once a real vocabulary exists
    * (vs the whitespace proxy in tokenCounts).
    *
    * Encoding is the standard greedy loop: repeatedly merge the
    * ADJACENT pair with the lowest training rank until none applies —
    * which reproduces exactly the symbol sequences training itself
    * produced (training applies merges in rank order corpus-wide).
    *
    * Shape: the merge table (≤ vocab size, a few MB at 64k) broadcasts
    * once; encoding is a pure per-row map — no shuffle, streams under
    * Structured Streaming unchanged. A Scala UDF is the right tool
    * here, not a Catalyst expression: the loop carries a mutable
    * symbol buffer and a rank map, neither expressible in codegen'd
    * Column algebra — this is the documented UDF-boundary exception
    * (SURVEY §2.8), same as the multimodal decoder. Tokenization
    * matches Dedup.tokens (the one tokenizer) byte-for-byte. */
  def bpeEncode(
      df: DataFrame, text: Column,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val ranks: Map[(String, String), Int] =
      merges.map { case (r, l, rt, _) => (l, rt) -> r }.toMap
    val bc = df.sparkSession.sparkContext.broadcast(ranks)
    val enc = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else {
        val rk = bc.value
        t.split("[ \\t\\n\\r\\f\\x0B]+").filter(_.nonEmpty).flatMap { w =>
          var syms = w.map(_.toString).toVector :+ "</w>"
          var go = true
          while (go && syms.length > 1) {
            var best = Int.MaxValue
            var bi = -1
            var i = 0
            while (i < syms.length - 1) {
              val r = rk.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
              if (r < best) { best = r; bi = i }
              i += 1
            }
            if (bi < 0) go = false
            else syms = (syms.take(bi) :+ (syms(bi) + syms(bi + 1))) ++
              syms.drop(bi + 2)
          }
          syms
        }
      }
    }
    df.withColumn("bpe", enc(text))
      .withColumn("n_bpe_tokens", size(col("bpe")))
  }

  /** Edit-distance similarity join: all unordered pairs of DISTINCT
    * values of `str` within Levenshtein distance `maxDist`, WITHOUT the
    * quadratic cross join — the record-linkage / typo-clustering
    * primitive (merge "example.com" with "exmaple.com" variants).
    * Returns (name_a, name_b, dist) with name_a < name_b.
    *
    * Candidate generation is the Gravano-style q-gram COUNT FILTER:
    * one edit destroys at most q of a string's positional q-grams, so
    * ed(s,t) ≤ k ⇒ the q-gram BAGS share ≥ max(|s|,|t|)−q+1−k·q grams.
    * Shape: explode per-string q-grams → (s, gram, mult) hash-agg →
    * equi-join on gram (+ |len diff| ≤ k) → per-pair Σ min(mult) →
    * bound filter → exact levenshtein confirm. Never all-pairs: a
    * string meets only strings sharing a gram, and the confirm runs on
    * the surviving candidates only.
    *
    * LOSSLESSNESS: pairs where the bound is vacuous (max(|s|,|t|) ≤
    * q−1+k·q, so the theorem requires ≥ ≤0 shared grams) could evade
    * the gram join entirely — those SHORT strings are all-paired
    * directly (a set bounded by the alphabet: |Σ|^(q−1+kq) values at
    * most, tiny in practice). The declared query's oracle is the naive
    * quadratic join, so the driver hash-verifies that the filter drops
    * no true pair.
    *
    * 100 TB notes: runs on DISTINCT values (dedupe first — name columns
    * have ~√n distinct values); stop-gram skew (a gram shared by every
    * string, e.g. "th") fans the candidate join — cap with the same
    * hot-key discipline as Dedup.capHotShingles if a profile shows it;
    * the bound filter runs BEFORE the confirm so levenshtein (O(l²)
    * per pair) only touches survivors. */
  def editDistancePairs(
      df: DataFrame, str: Column, maxDist: Int, q: Int = 2): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    require(q >= 2, "q must be >= 2 (q=1 grams carry no position info)")
    val names = df.select(str.cast("string").as("s"))
      .filter(col("s").isNotNull).distinct()
      .withColumn("len", length(col("s")))
    // positional q-gram bag → (s, gram, multiplicity). Strings shorter
    // than q get one whole-string gram: harmless (they are covered by
    // the short-pair path), and it keeps sequence() off the descending
    // sequence(1, len-q+1 < 1) path, which would THROW, not no-op.
    val grams = names
      .withColumn("g", explode(
        when(col("len") >= q,
          expr(s"transform(sequence(1, length(s) - ${q - 1}), " +
               s"i -> substring(s, i, $q))"))
        .otherwise(array(col("s")))))
      .groupBy(col("s"), col("len"), col("g"))
      .agg(count(lit(1)).as("c"))
    val a = grams.select(col("s").as("name_a"), col("len").as("la"),
                         col("g"), col("c").as("ca"))
    val b = grams.select(col("s").as("name_b"), col("len").as("lb"),
                         col("g").as("gb"), col("c").as("cb"))
    val cand = a.join(b,
        col("g") === col("gb") && col("name_a") < col("name_b") &&
        abs(col("la") - col("lb")) <= maxDist)
      .groupBy(col("name_a"), col("name_b"), col("la"), col("lb"))
      .agg(sum(least(col("ca"), col("cb"))).as("common"))
      .filter(col("common") >=
        greatest(col("la"), col("lb")) - lit(q - 1) - lit(maxDist * q))
      .select(col("name_a"), col("name_b"))
    val shortLen = q - 1 + maxDist * q
    val sh = names.filter(col("len") <= shortLen)
    val shortPairs = sh.select(col("s").as("name_a"))
      .crossJoin(sh.select(col("s").as("name_b")))
      .filter(col("name_a") < col("name_b"))
    cand.union(shortPairs).distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"))
                            .cast("int"))
      .filter(col("dist") <= maxDist)
  }
}
