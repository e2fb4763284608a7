package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** North-star near-duplicate + ANN operators beyond MinHash (LlmOps):
  * SimHash signatures, n-gram Jaccard pairs, embedding-cosine near-dup
  * via random-hyperplane (sign-bit) bucketing, and an LSH-bucketed
  * approximate top-k — the scale path for similarity search.
  *
  * Scale notes (100 TB):
  *  - SimHash is embarrassingly parallel: one array fold per doc, no
  *    shuffle until the tiny signature aggregation. Hamming-band pair
  *    generation would reuse the MinHash banding join shape.
  *  - Jaccard avoids O(n²) via the inverted-index (shared-shingle) join:
  *    only docs sharing a 5-gram ever meet. 5-grams keep buckets
  *    selective; hot shingles (boilerplate) would be capped/salted.
  *  - sign-bit bucketing IS SRP-LSH with axis-aligned planes: vectors
  *    only compare within their bucket, turning all-pairs cosine into a
  *    per-bucket equi-join. Recall is traded for a bounded candidate
  *    set — the documented ANN contract (exact baseline: q_sim_cosine_topk).
  */
object NearDupOps extends OpGroup {

  /** DuckDB rendering of graft.api.Sim.signBits (SRP-LSH bucket). */
  private def sqlBits(embCol: String, n: Int): String =
    s"array_to_string(list_transform($embCol[1:$n]," +
    s" x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"

  def qs: Seq[Q] = Seq(
    Q(
      // 32-bit SimHash from md5-hex-digit parities: bit k = majority
      // vote over the doc's distinct tokens of digit_k(md5(token)) % 2.
      // Equal signatures = near/exact-duplicate clusters.
      "q_dedup_simhash",
      (s, d) => graft.api.Dedup.simhashSignature(
          Tables.documents(s, d), col("doc_id"), col("text"), bits = 32)
        .groupBy(col("sig"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("sig")),
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(${toksSql("text")})) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, md5(t) AS h FROM tok),
        |b AS (
        |  SELECT doc_id, unnest(range(1, 33)) AS k,
        |    unnest(list_transform(range(1, 33), k ->
        |      CASE WHEN (instr('0123456789abcdef', substr(h, k, 1)) - 1) % 2 = 1
        |           THEN 1 ELSE -1 END)) AS v
        |  FROM h),
        |s AS (SELECT doc_id, k, SUM(v) AS sv FROM b GROUP BY doc_id, k),
        |sig AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, ''
        |               ORDER BY k) AS sig
        |  FROM s GROUP BY doc_id)
        |SELECT sig, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM sig GROUP BY sig ORDER BY sig""".stripMargin),

    Q(
      // SimHash near-dup JOIN: packed 32-bit signatures, pairs within
      // Hamming <= 3 found by byte banding (pigeonhole: <= 3 flipped
      // bits leave at least one of four 8-bit bands intact) and
      // confirmed with bit_count(xor) — integer-exact in both engines,
      // never an all-pairs comparison. 32 bits is the md5-portable
      // oracle form; its 8-bit bands saturate at ~500k docs (r5 sf10
      // measurement) — corpus-scale callers use the equivalent-
      // guarantee Dedup.simhashHammingPairs64 (16-bit bands, 3.5×
      // measured, SCALE.md).
      "q_dedup_simhash_hamming",
      (s, d) => graft.api.Dedup.simhashHammingPairs(
          Tables.documents(s, d), col("doc_id"), col("text"),
          maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b")),
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(${toksSql("text")})) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, md5(t) AS h FROM tok),
        |b AS (
        |  SELECT doc_id, unnest(range(1, 33)) AS k,
        |    unnest(list_transform(range(1, 33), k ->
        |      CASE WHEN (instr('0123456789abcdef', substr(h, k, 1)) - 1) % 2 = 1
        |           THEN 1 ELSE -1 END)) AS v
        |  FROM h),
        |s AS (SELECT doc_id, k, SUM(v) AS sv FROM b GROUP BY doc_id, k),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN sv > 0
        |                  THEN (CAST(1 AS BIGINT) << (k - 1))
        |                  ELSE 0 END) AS BIGINT) AS sig
        |  FROM s GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, sig, bb.b, (sig >> (8 * bb.b)) & 255 AS bv
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bb),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    MIN(a.sig) AS sig_a, MIN(b.sig) AS sig_b
        |  FROM bands a JOIN bands b
        |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
        |FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin),

    Q(
      // word-7-gram Jaccard via inverted-index join: only docs sharing a
      // shingle are compared; J = |A∩B| / (|A|+|B|-|A∩B|). Shingle width
      // is the selectivity dial: with this corpus's small vocabulary,
      // 5-grams collide by the birthday bound into ~10^8 candidate pairs
      // at sf0.1 (measured: >12 s), while 7-grams keep only genuinely
      // overlapping docs.
      "q_dedup_ngram_jaccard",
      // shape notes (measured): see graft.api.Dedup.jaccardPairs — the
      // inverted-index join with |doc| riding along as a column, the
      // explode_outer generator discipline, and the MERGE hint all live
      // there now
      (s, d) => graft.api.Dedup.jaccardPairs(
          Tables.documents(s, d), col("doc_id"), col("text"),
          n = 7, minJaccard = 0.2)
        .orderBy(col("doc_a"), col("doc_b")),
      s"""WITH w AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents
        |  WHERE len(${toksSql("text")}) >= 7),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6], w[i+7]) AS g
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 6)) AS i FROM w)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, inter,
        |  CAST((2*(inter*10000) + (sa.sz + sb.sz - inter))
        |       // (2*(sa.sz + sb.sz - inter)) AS DOUBLE) / 10000.0 AS jac
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST((2*(inter*10000) + (sa.sz + sb.sz - inter))
        |       // (2*(sa.sz + sb.sz - inter)) AS DOUBLE) / 10000.0 >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin),

    Q(
      // asymmetric containment (api.Dedup.containmentPairs): the
      // quote/sub-document detector — |A∩B|/min(|A|,|B|), plus WHICH
      // doc is the contained one. Same inverted-index join as jaccard;
      // threshold 0.35 is non-vacuous on the fixture at every SF.
      "q_dedup_containment",
      (s, d) => graft.api.Dedup.containmentPairs(
          Tables.documents(s, d), col("doc_id"), col("text"),
          n = 7, minContainment = 0.35)
        .orderBy(col("doc_a"), col("doc_b")),
      s"""WITH w AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents
        |  WHERE len(${toksSql("text")}) >= 7),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6], w[i+7]) AS g
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 6)) AS i FROM w)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, inter,
        |  CAST((2*(inter*10000) + least(sa.sz, sb.sz))
        |       // (2*least(sa.sz, sb.sz)) AS DOUBLE) / 10000.0 AS cont,
        |  CASE WHEN sa.sz <= sb.sz THEN doc_a ELSE doc_b END
        |    AS contained_doc
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST((2*(inter*10000) + least(sa.sz, sb.sz))
        |       // (2*least(sa.sz, sb.sz)) AS DOUBLE) / 10000.0 >= 0.35
        |ORDER BY doc_a, doc_b""".stripMargin),

    Q(
      // dedup quality report: MinHash (16 slots, ≥8 matches) scored
      // against EXACT Jaccard ≥ 0.5 ground truth, both at the SAME
      // 7-gram shingle width (the corpus-safe width; at ≥8/16 slots
      // the LSH s-curve centers on jac ≈ 0.5, so the truth threshold
      // is the one the banding targets). TP/FP/FN via one full-outer
      // join of the two pair sets, precision/recall boundary-exact
      // through intRatio4 — the tuning artifact that turns "minhash
      // found 25 pairs" into a measured quality claim, itself
      // oracle-certified. Denominators are guarded by the fixture
      // (exact dups exist at every SF → both pair sets non-empty).
      "q_dedup_pr_report",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pred = graft.api.Dedup.minhashPairs(
            docs, col("doc_id"), col("text"), shingle = 7, minMatch = 8)
          .select(col("doc_a"), col("doc_b"), lit(1).as("p"))
        val truth = graft.api.Dedup.jaccardPairs(
            docs, col("doc_id"), col("text"), n = 7, minJaccard = 0.5)
          .select(col("doc_a").as("ta"), col("doc_b").as("tb"),
                  lit(1).as("t"))
        pred.join(truth,
            col("doc_a") === col("ta") && col("doc_b") === col("tb"),
            "full_outer")
          .agg(sum(when(col("p").isNotNull && col("t").isNotNull, 1L)
                 .otherwise(0L)).as("n_tp"),
               sum(when(col("p").isNotNull && col("t").isNull, 1L)
                 .otherwise(0L)).as("n_fp"),
               sum(when(col("p").isNull && col("t").isNotNull, 1L)
                 .otherwise(0L)).as("n_fn"))
          .select(col("n_tp"), col("n_fp"), col("n_fn"),
                  intRatio4(col("n_tp") * 10000,
                            col("n_tp") + col("n_fp")).as("precision"),
                  intRatio4(col("n_tp") * 10000,
                            col("n_tp") + col("n_fn")).as("recall"))
      },
      s"""WITH w AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents
        |  WHERE len(${toksSql("text")}) >= 7),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5], w[i+6], w[i+7]) AS g
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 6)) AS i FROM w)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b),
        |truth AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST((2*(inter*10000) + (sa.sz + sb.sz - inter))
        |        // (2*(sa.sz + sb.sz - inter)) AS DOUBLE) / 10000.0
        |        >= 0.5),
        |hj AS (
        |  SELECT doc_id, j,
        |    md5(concat(g, '#', CAST(j AS VARCHAR))) AS h
        |  FROM (SELECT doc_id, g, unnest(range(0, 4)) AS j FROM sh)),
        |sig AS (
        |  SELECT doc_id, j * 4 + i AS k,
        |    MIN(substr(h, i * 8 + 1, 8)) AS mh
        |  FROM (SELECT doc_id, j, h, unnest(range(0, 4)) AS i FROM hj)
        |  GROUP BY doc_id, j * 4 + i),
        |pred AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b
        |    ON a.k = b.k AND a.mh = b.mh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b HAVING COUNT(*) >= 8),
        |cls AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN p.doc_a IS NOT NULL
        |                   AND t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_tp,
        |    CAST(SUM(CASE WHEN p.doc_a IS NOT NULL
        |                   AND t.doc_a IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_fp,
        |    CAST(SUM(CASE WHEN p.doc_a IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_fn
        |  FROM pred p FULL OUTER JOIN truth t
        |    ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b)
        |SELECT n_tp, n_fp, n_fn,
        |  CAST((2 * n_tp * 10000 + (n_tp + n_fp))
        |       // (2 * (n_tp + n_fp)) AS DOUBLE) / 10000.0 AS precision,
        |  CAST((2 * n_tp * 10000 + (n_tp + n_fn))
        |       // (2 * (n_tp + n_fn)) AS DOUBLE) / 10000.0 AS recall
        |FROM cls""".stripMargin),

    Q(
      // embedding near-dup: 8-bit sign bucket (SRP-LSH) prunes to
      // same-bucket pairs (~500 of ~125k candidates at sf0.01), then
      // exact cosine >= 0.3 confirms. Parameters are tuned to the
      // synthetic embeddings' cosine spread (max within-bucket cos is
      // ~0.43-0.51 per SF) so the query emits rows at EVERY SF — the r2
      // bits=16/minCos=0.9 version was vacuously green (0 rows on both
      // engines, VERDICT r2). Real corpora would use higher minCos.
      "q_dedup_embed_cosine",
      (s, d) => graft.api.Sim.embeddingNearDupPairs(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          bits = 8, minCos = 0.3)
        .orderBy(col("a_id"), col("b_id")),
      s"""WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    ${sqlBits("embedding", 8)} AS bucket,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |p AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |          i -> CAST(a.embedding[i] AS DOUBLE)
        |             * CAST(b.embedding[i] AS DOUBLE)))
        |        / (a.nrm * b.nrm), 4) + 0 AS cos
        |  FROM e a JOIN e b
        |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.3
        |ORDER BY a_id, b_id""".stripMargin),

    Q(
      // LSH-bucketed approximate top-3: queries only scan their own
      // 8-bit sign bucket (~1/256 of the collection) — the documented
      // recall/cost tradeoff vs the exact q_sim_cosine_topk baseline.
      "q_sim_ann_lsh",
      (s, d) => graft.api.Sim.lshTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10, bits = 8, k = 3)
        .orderBy(col("q_id"), col("rn")),
      s"""WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    ${sqlBits("embedding", 8)} AS bucket,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> CAST(q.embedding[i] AS DOUBLE)
        |             * CAST(c.embedding[i] AS DOUBLE)))
        |        / (q.nrm * c.nrm), 4) + 0 AS cos
        |  FROM e q JOIN e c
        |    ON q.bucket = c.bucket AND q.vec_id < 10
        |   AND q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT q_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos DESC, cand_id ASC) AS rn
        |  FROM scored)
        |SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin),

    Q(
      // multi-probe LSH (Lv et al., VLDB'07): each query scans its own
      // 6-bit sign bucket PLUS the two Hamming-1 buckets across its
      // least-confident hyperplanes (smallest |dim value| — the planes
      // the vector sits closest to, where a true neighbour most
      // plausibly lands on the other side). nprobe/2^bits of the
      // collection scanned; recall strictly ⊇ the single-probe scan
      // (ApiSpec pins the monotonicity; this query oracle-checks the
      // probe-expansion arithmetic end-to-end, including the
      // abs-ranking and the bit-flip string surgery).
      "q_sim_ann_multiprobe",
      (s, d) => graft.api.Sim.lshTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10, bits = 6, k = 3, nprobe = 3)
        .orderBy(col("q_id"), col("rn")),
      s"""WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    ${sqlBits("embedding", 6)} AS bucket,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |probes AS (
        |  SELECT vec_id, unnest(
        |    [bucket] || list_transform(
        |      list_sort(list_transform(range(1, 7),
        |        i -> {'a': abs(embedding[i]), 'i': i}))[1:2],
        |      s -> substr(bucket, 1, s.i - 1)
        |        || (CASE WHEN substr(bucket, s.i, 1) = '1'
        |                 THEN '0' ELSE '1' END)
        |        || substr(bucket, s.i + 1, 6))) AS pbucket
        |  FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> CAST(q.embedding[i] AS DOUBLE)
        |             * CAST(c.embedding[i] AS DOUBLE)))
        |        / (q.nrm * c.nrm), 4) + 0 AS cos
        |  FROM probes p
        |  JOIN e q ON q.vec_id = p.vec_id
        |  JOIN e c ON c.bucket = p.pbucket AND c.vec_id <> p.vec_id),
        |r AS (
        |  SELECT q_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos DESC, cand_id ASC) AS rn
        |  FROM scored)
        |SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin),

    Q(
      // IVF-style ANN: every vector is assigned to its nearest "centroid"
      // (deterministic 1-in-200 sample — real IVF k-means-trains these;
      // the partition/search mechanics are what scales), queries probe
      // ONLY their own cell (nprobe=1). Centroid set is broadcast; the
      // assignment is a linear scan ⋈ broadcast, never vector×vector.
      "q_sim_ann_ivf",
      // assignment is a max_by aggregation (argmax of (ccos, -cent_id),
      // same ordering as the oracle's row_number): partial aggregation
      // collapses the n×k candidate rows to one per vector MAP-SIDE —
      // see graft.api.Sim.ivfTopK. The centroid set is FIXED (16 rows,
      // like ivfpq's codebook rule) — the r5 sf10 sweep caught the old
      // vec_id % 200 rule growing the codebook linearly with the
      // corpus, which made assignment O(n²/200) (210x wall at 100x
      // data); real IVF builds a fixed-k codebook per index, so the
      // fixed rule is both the honest semantics and the linear plan.
      (s, d) => graft.api.Sim.ivfTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10,
          isCentroid = col("vec_id") < 16, k = 3)
        .orderBy(col("q_id"), col("rn")),
      """WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |cent AS (
        |  SELECT vec_id AS cent_id, embedding AS cemb, nrm AS cnrm
        |  FROM e WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, embedding, nrm, cell FROM (
        |    SELECT v.vec_id, v.embedding, v.nrm, c.cent_id AS cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        round(list_sum(list_transform(range(1, len(v.embedding) + 1),
        |              i -> CAST(v.embedding[i] AS DOUBLE)
        |                 * CAST(c.cemb[i] AS DOUBLE)))
        |            / (v.nrm * c.cnrm), 4) DESC, c.cent_id ASC) AS arn
        |    FROM e v CROSS JOIN cent c)
        |  WHERE arn = 1),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> CAST(q.embedding[i] AS DOUBLE)
        |             * CAST(c.embedding[i] AS DOUBLE)))
        |        / (q.nrm * c.nrm), 4) + 0 AS cos
        |  FROM assign q JOIN assign c
        |    ON q.cell = c.cell AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT q_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos DESC, cand_id ASC) AS rn
        |  FROM scored)
        |SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin),

    Q(
      // SEMANTIC dedup (the embedding-cluster flavor): assign every
      // vector to its nearest centroid via api.Sim.kmeansAssign — the
      // SAME assignCells the k-means trainer uses, here with fixed
      // centroid rows (vec_id < 8) so the declared query is fully
      // deterministic and oracle-checkable (kmeansFit-trained centroids
      // are double-sum means, SURVEY §2.0 R-rules forbid them in a
      // hash gate; the ⊘ kmeans tests cover the trainer itself) — then
      // keep ONE representative per cell: best cosine, ties to the
      // smaller vec_id. Everything after the broadcast assignment is
      // one hash-agg; nothing is O(n²).
      "q_dedup_semantic",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
        graft.api.Sim.kmeansAssign(
            emb, col("vec_id"), col("embedding"), cents)
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_members"),
               max(struct(col("cos"), (-col("vec_id")).as("nv"))).as("_b"))
          .select(col("cell"), col("n_members"),
                  (-col("_b.nv")).as("kept_id"),
                  // round-4 cos never yields -0.0 on the Spark side
                  // (BigDecimal round); the oracle carries the usual +0
                  col("_b.cos").as("rep_cos"))
          .orderBy(col("cell"))
      },
      """WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |cent AS (
        |  SELECT vec_id AS cell, embedding AS cemb, nrm AS cnrm
        |  FROM e WHERE vec_id < 8),
        |assign AS (
        |  SELECT vec_id, cell, cos FROM (
        |    SELECT v.vec_id, c.cell,
        |      round(list_sum(list_transform(range(1, len(v.embedding) + 1),
        |            i -> CAST(v.embedding[i] AS DOUBLE)
        |               * CAST(c.cemb[i] AS DOUBLE)))
        |          / (v.nrm * c.cnrm), 4) AS cos,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        round(list_sum(list_transform(range(1, len(v.embedding) + 1),
        |              i -> CAST(v.embedding[i] AS DOUBLE)
        |                 * CAST(c.cemb[i] AS DOUBLE)))
        |            / (v.nrm * c.cnrm), 4) DESC, c.cell ASC) AS arn
        |    FROM e v CROSS JOIN cent c)
        |  WHERE arn = 1),
        |rep AS (
        |  SELECT cell, COUNT(*) AS n_members,
        |    (min(struct_pack(negcos := -cos, v := vec_id))).v AS kept_id,
        |    -(min(struct_pack(negcos := -cos, v := vec_id))).negcos + 0
        |      AS rep_cos
        |  FROM assign GROUP BY cell)
        |SELECT cell, n_members, kept_id, rep_cos
        |FROM rep ORDER BY cell""".stripMargin),

    Q(
      // int8 quantization (api.Sim.quantizeInt8): per-vector max-abs
      // calibration, q = round(x·127/amax) — the 4× ANN-serving shrink.
      // Declared output is R5-safe scalars (checksums + bounds), never
      // the array itself; qmax = 127 for every vector doubles as the
      // calibration invariant the oracle re-derives independently.
      "q_embed_quantize",
      (s, d) => {
        val q = graft.api.Sim.quantizeInt8(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"))
        q.select(col("vec_id"),
                 size(col("qvec")).as("n_dims"),
                 expr("aggregate(qvec, 0L, (a, x) -> a + x)").as("qsum"),
                 expr("aggregate(qvec, 0L, (a, x) -> a + abs(x))")
                   .as("qmass"),
                 array_max(transform(col("qvec"), x => abs(x))).as("qmax"),
                 r4(col("scale")).as("scale4"))
          .orderBy(col("vec_id"))
      },
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS amax
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |s AS (
        |  SELECT vec_id, embedding, 127.0 / CAST(amax AS DOUBLE) AS scale
        |  FROM e WHERE amax > 0),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(x * scale) AS INT)) AS qvec, scale
        |  FROM s)
        |SELECT vec_id, len(qvec) AS n_dims,
        |  CAST(list_sum(qvec) AS BIGINT) AS qsum,
        |  CAST(list_sum(list_transform(qvec, x -> abs(x))) AS BIGINT)
        |    AS qmass,
        |  CAST(list_max(list_transform(qvec, x -> abs(x))) AS INT) AS qmax,
        |  round(scale, 4) + 0 AS scale4
        |FROM q ORDER BY vec_id""".stripMargin),

    Q(
      // quantized serving path (api.Sim.quantizedTopK): top-3 neighbours
      // by RAW int8×int8 integer dot product — the ranking a quantized
      // ANN tier actually serves. Exact int64 math end-to-end, so the
      // scores (not just the ranking) hash-match the oracle with no
      // rounding step at all.
      "q_sim_quantized_topk",
      (s, d) => graft.api.Sim.quantizedTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10, k = 3)
        .orderBy(col("q_id"), col("rn")),
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS amax
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(x * (127.0 / CAST(amax AS DOUBLE)))
        |           AS INT)) AS qvec
        |  FROM e WHERE amax > 0),
        |scored AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(range(1, len(a.qvec) + 1),
        |      i -> CAST(a.qvec[i] AS BIGINT) * b.qvec[i])) AS BIGINT)
        |      AS qdot
        |  FROM q a JOIN q b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT q_id, cand_id, qdot,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY qdot DESC, cand_id ASC) AS rn
        |  FROM scored)
        |SELECT q_id, cand_id, qdot, rn FROM ranked WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin),

    Q(
      // product-quantization ADC top-3 (api.Sim.pqTopK): 64 dims cut
      // into m=8 subspaces, per-subspace codebooks donated by the
      // vec_id<16 rows, candidates stored as 8 small codes (8× less
      // serving memory than raw floats), queries scored through a
      // broadcast lookup table of exact integer subdistances — the
      // FAISS PQ/ADC memory tier, every step exact int64 on the 1e-4
      // grid so encode + LUT + ranking hash-match the oracle, which
      // replays all three stages literally.
      "q_sim_ann_pq",
      (s, d) => graft.api.Sim.pqTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10, isCodebook = col("vec_id") < 16,
          m = 8, k = 3)
        .orderBy(col("q_id"), col("rn")),
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(x * 10000) AS BIGINT)) AS q64
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |sub AS (
        |  SELECT vec_id, g.j,
        |    list_slice(q64, g.j * (len(q64) // 8) + 1,
        |               (g.j + 1) * (len(q64) // 8)) AS sv
        |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS j) g),
        |cb AS (
        |  SELECT vec_id AS code, j, sv AS csv FROM sub WHERE vec_id < 16),
        |enc AS (
        |  SELECT vec_id AS cand_id, j, code FROM (
        |    SELECT s.vec_id, s.j, c.code,
        |      row_number() OVER (PARTITION BY s.vec_id, s.j
        |        ORDER BY list_sum(list_transform(range(1, len(s.sv) + 1),
        |          i -> (s.sv[i] - c.csv[i]) * (s.sv[i] - c.csv[i]))) ASC,
        |          c.code ASC) AS rn
        |    FROM sub s JOIN cb c USING (j)) WHERE rn = 1),
        |lut AS (
        |  SELECT s.vec_id AS q_id, s.j, c.code,
        |    CAST(list_sum(list_transform(range(1, len(s.sv) + 1),
        |      i -> (s.sv[i] - c.csv[i]) * (s.sv[i] - c.csv[i])))
        |      AS BIGINT) AS d
        |  FROM sub s JOIN cb c USING (j) WHERE s.vec_id < 10),
        |scored AS (
        |  SELECT l.q_id, e2.cand_id, CAST(SUM(l.d) AS BIGINT) AS adc
        |  FROM enc e2 JOIN lut l ON l.j = e2.j AND l.code = e2.code
        |  WHERE e2.cand_id <> l.q_id
        |  GROUP BY l.q_id, e2.cand_id),
        |ranked AS (
        |  SELECT q_id, cand_id, adc,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY adc ASC, cand_id ASC) AS rn
        |  FROM scored)
        |SELECT q_id, cand_id, adc AS adc_dist, rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin),

    Q(
      // IVF-PQ (api.Sim.ivfPqTopK): the complete FAISS serving stack —
      // coarse inverted-file cells (centroids = vec_id<8 rows, exact
      // integer L2 assignment on the 1e-4 grid) prune candidates to
      // the query's nprobe=2 closest cells; survivors are scored by
      // the PQ broadcast-LUT ADC sum (codebooks = vec_id<16, m=8).
      // Per query only ~nprobe/|cells| of the encoded corpus is
      // touched, on top of PQ's d/m bandwidth shrink; every stage is
      // exact int64 with smaller-id tie-breaks, so the two-tier
      // composition hash-matches the oracle's literal replay.
      "q_sim_ann_ivfpq",
      (s, d) => graft.api.Sim.ivfPqTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10, isCentroid = col("vec_id") < 8,
          isCodebook = col("vec_id") < 16, m = 8, nprobe = 2, k = 3)
        .orderBy(col("q_id"), col("rn")),
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(x * 10000) AS BIGINT)) AS q64
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |cent AS (SELECT vec_id AS cent_id, q64 AS c64
        |         FROM e WHERE vec_id < 8),
        |cd AS (
        |  SELECT v.vec_id, c.cent_id,
        |    CAST(list_sum(list_transform(range(1, len(v.q64) + 1),
        |      i -> (v.q64[i] - c.c64[i]) * (v.q64[i] - c.c64[i])))
        |      AS BIGINT) AS cd
        |  FROM e v CROSS JOIN cent c),
        |assign AS (
        |  SELECT vec_id AS cand_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY cd ASC, cent_id ASC) AS rn
        |    FROM cd) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS q_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY cd ASC, cent_id ASC) AS rn
        |    FROM cd WHERE vec_id < 10) WHERE rn <= 2),
        |sub AS (
        |  SELECT vec_id, g.j,
        |    list_slice(q64, g.j * (len(q64) // 8) + 1,
        |               (g.j + 1) * (len(q64) // 8)) AS sv
        |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS j) g),
        |cb AS (
        |  SELECT vec_id AS code, j, sv AS csv FROM sub WHERE vec_id < 16),
        |enc AS (
        |  SELECT vec_id AS cand_id, j, code FROM (
        |    SELECT s.vec_id, s.j, c.code,
        |      row_number() OVER (PARTITION BY s.vec_id, s.j
        |        ORDER BY list_sum(list_transform(range(1, len(s.sv) + 1),
        |          i -> (s.sv[i] - c.csv[i]) * (s.sv[i] - c.csv[i]))) ASC,
        |          c.code ASC) AS rn
        |    FROM sub s JOIN cb c USING (j)) WHERE rn = 1),
        |lut AS (
        |  SELECT s.vec_id AS q_id, s.j, c.code,
        |    CAST(list_sum(list_transform(range(1, len(s.sv) + 1),
        |      i -> (s.sv[i] - c.csv[i]) * (s.sv[i] - c.csv[i])))
        |      AS BIGINT) AS d
        |  FROM sub s JOIN cb c USING (j) WHERE s.vec_id < 10),
        |scored AS (
        |  SELECT l.q_id, e2.cand_id, CAST(SUM(l.d) AS BIGINT) AS adc
        |  FROM enc e2
        |    JOIN assign a ON a.cand_id = e2.cand_id
        |    JOIN probes p ON p.cell = a.cell
        |    JOIN lut l ON l.q_id = p.q_id AND l.j = e2.j
        |              AND l.code = e2.code
        |  WHERE e2.cand_id <> l.q_id
        |  GROUP BY l.q_id, e2.cand_id),
        |ranked AS (
        |  SELECT q_id, cand_id, adc,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY adc ASC, cand_id ASC) AS rn
        |  FROM scored)
        |SELECT q_id, cand_id, adc AS adc_dist, rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin),

    Q(
      // two-stage prefix rerank (api.Sim.prefixRerankTopK): coarse
      // top-10 by 16-dim PREFIX cosine (the truncated-embedding tier a
      // memory-resident index holds — 4× less vector bandwidth on the
      // only corpus-sized scan), full-dim rerank of the |Q|·10
      // survivors to top-3. The oracle replays both stages, so the
      // hash match proves the two-tier plan returns exactly its
      // declared semantics (rerank ⊆ coarse survivors, both rankings
      // round-4 with cand-id tiebreaks).
      "q_sim_prefix_rerank",
      (s, d) => graft.api.Sim.prefixRerankTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10, prefixDims = 16, m = 10, k = 3)
        .orderBy(col("q_id"), col("rn")),
      """WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |p0 AS (
        |  SELECT vec_id, embedding, nrm,
        |    sqrt(list_sum(list_transform(embedding[1:16],
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS pnrm
        |  FROM e),
        |p AS (SELECT * FROM p0 WHERE pnrm > 0),
        |coarse AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, 17),
        |            i -> CAST(q.embedding[i] AS DOUBLE)
        |               * CAST(c.embedding[i] AS DOUBLE)))
        |          / (q.pnrm * c.pnrm), 4) AS pcos
        |  FROM p q JOIN p c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |surv AS (
        |  SELECT q_id, cand_id FROM (
        |    SELECT q_id, cand_id,
        |      row_number() OVER (PARTITION BY q_id
        |                         ORDER BY pcos DESC, cand_id ASC) AS rn
        |    FROM coarse) WHERE rn <= 10),
        |rer AS (
        |  SELECT s.q_id, s.cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |            i -> CAST(q.embedding[i] AS DOUBLE)
        |               * CAST(c.embedding[i] AS DOUBLE)))
        |          / (q.nrm * c.nrm), 4) + 0 AS cos
        |  FROM surv s JOIN e q ON q.vec_id = s.q_id
        |              JOIN e c ON c.vec_id = s.cand_id),
        |ranked AS (
        |  SELECT q_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos DESC, cand_id ASC) AS rn
        |  FROM rer)
        |SELECT q_id, cand_id, cos, rn FROM ranked WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin),

    Q(
      // per-label centroid coherence (api.Sim.labelCoherence) — the
      // mislabeled-data detector: label centroid = exact INTEGER sum of
      // 1e-6-quantized member components (cosine is scale-invariant, so
      // the sum vector IS the mean direction — no division, no float
      // accumulation anywhere order-dependent), then each vector's
      // cosine to its own label's centroid; per label: count, avg/min
      // coherence, and WHICH vector disagrees most with its label.
      "q_embed_centroid_coherence",
      (s, d) => graft.api.Sim.labelCoherence(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          col("label"))
        .orderBy(col("label")),
      """WITH e0 AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |comp AS (
        |  SELECT label, i AS pos,
        |    SUM(CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
        |        AS BIGINT)) AS cs
        |  FROM (SELECT label, embedding,
        |          unnest(range(0, len(embedding))) AS i FROM e)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, list(cs ORDER BY pos) AS cvec
        |  FROM comp GROUP BY label),
        |sc AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(round(
        |      list_sum(list_transform(range(1, len(e.embedding) + 1),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))
        |      / (e.nrm *
        |         sqrt(list_sum(list_transform(c.cvec,
        |              x -> CAST(x AS DOUBLE) * x))))
        |      * 10000) AS BIGINT) AS ce4
        |  FROM e JOIN cent c ON c.label = e.label),
        |agg AS (
        |  SELECT label, COUNT(*) AS n_vecs, SUM(ce4) AS se4,
        |    min(struct_pack(c := ce4, i := vec_id)) AS w
        |  FROM sc GROUP BY label)
        |SELECT label, n_vecs,
        |  CAST(CASE WHEN se4 >= 0
        |       THEN (2 * se4 + n_vecs) // (2 * n_vecs)
        |       ELSE -((2 * (-se4) + n_vecs) // (2 * n_vecs)) END
        |    AS DOUBLE) / 10000.0 AS avg_coh,
        |  CAST(w.c AS DOUBLE) / 10000.0 AS min_coh,
        |  w.i AS worst_id
        |FROM agg ORDER BY label""".stripMargin),

    Q(
      // per-DIMENSION embedding health profile — the dead-dim /
      // scale-drift detector an embedding pipeline runs before
      // trusting cosine math: for every vector position, count, mean
      // (exact 1e-6-quantized integer sums → half-up 1e-4 ratio; no
      // order-dependent float accumulation), min/max, and the
      // exactly-zero count (a column of n_zero = n is a dead dim; a
      // dim whose |mean| drifts from 0 skews every dot product).
      // Scale shape: ONE posexplode pass, map-side partial aggs, a
      // dim-count-sized result — no shuffle wider than n·d rows.
      "q_embed_dim_stats",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .filter(col("embedding").isNotNull)
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        e.groupBy(col("pos"))
          .agg(count(lit(1)).as("n"),
               sum(round(col("x").cast("double") * 1000000)
                 .cast("long")).as("_sq"),
               min(col("x")).as("_mn"),
               max(col("x")).as("_mx"),
               sum(when(col("x") === 0f, 1L).otherwise(0L)).as("n_zero"))
          .select(col("pos"), col("n"),
                  intRatio4(col("_sq"), col("n") * 100).as("avg_x"),
                  round(col("_mn").cast("double"), 4).as("min_x"),
                  round(col("_mx").cast("double"), 4).as("max_x"),
                  col("n_zero"))
          .orderBy(col("pos"))
      },
      """WITH e AS (
        |  SELECT embedding FROM embeddings WHERE embedding IS NOT NULL),
        |x AS (
        |  SELECT CAST(i AS INTEGER) AS pos, embedding[i + 1] AS x
        |  FROM (SELECT embedding, unnest(range(0, len(embedding))) AS i
        |        FROM e)),
        |a AS (
        |  SELECT pos, COUNT(*) AS n,
        |    SUM(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |      AS sq,
        |    MIN(CAST(x AS DOUBLE)) AS mn, MAX(CAST(x AS DOUBLE)) AS mx,
        |    SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS nz
        |  FROM x GROUP BY pos)
        |SELECT pos, n,
        |  CAST(CASE WHEN sq >= 0
        |       THEN (2 * sq + n * 100) // (2 * (n * 100))
        |       ELSE -((2 * (-sq) + n * 100) // (2 * (n * 100))) END
        |    AS DOUBLE) / 10000.0 AS avg_x,
        |  round(mn, 4) + 0 AS min_x, round(mx, 4) + 0 AS max_x,
        |  CAST(nz AS BIGINT) AS n_zero
        |FROM a ORDER BY pos""".stripMargin),

    Q(
      // second-moment (Gram) matrix of the first 8 embedding dims —
      // the one corpus pass PCA/whitening starts from (api.Sim.pca1
      // power-iterates the collected d×d result; ApiSpec proves it
      // finds a planted dominant direction). Quantized q = round(x·10⁶)
      // products accumulate in DECIMAL(38,0): integer-exact, partition-
      // order independent, HUGEINT-replayable. Plan shape: all 36
      // partial sums ride ONE map-side projection (no explode — the d²
      // blow-up never becomes rows), a single-row final agg, then a
      // constant stack to (i, j, gram).
      "q_embed_gram",
      (s, d) => graft.api.Sim.gramMatrix(
          Tables.embeddings(s, d), col("embedding"), dims = 8)
        .orderBy(col("i"), col("j")),
      {
        val qCols = (0 until 8).map(i =>
          s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000) " +
            s"AS BIGINT) AS q$i").mkString(", ")
        val pairs = for { i <- 0 until 8; j <- i until 8 } yield (i, j)
        val sums = pairs.map { case (i, j) =>
          s"SUM(CAST(q$i * q$j AS HUGEINT)) AS g_${i}_$j" }.mkString(", ")
        val branches = pairs.map { case (i, j) =>
          s"SELECT $i AS i, $j AS j, CAST(g_${i}_$j AS DOUBLE) / 1e12 " +
            s"AS gram FROM g" }.mkString(" UNION ALL ")
        s"WITH q AS (SELECT $qCols FROM embeddings " +
          "WHERE embedding IS NOT NULL AND len(embedding) >= 8), " +
          s"g AS (SELECT $sums FROM q) " +
          s"SELECT i, j, gram FROM ($branches) ORDER BY i, j"
      }),

    Q(
      // hybrid retrieval: reciprocal-rank fusion of a lexical (BM25,
      // terms "spark query") and a semantic (cosine vs vec 0) top-20,
      // fused as Σ⌊10⁶/(60+rank)⌋ in INTEGERS (api.Sim.rrfFuse) — the
      // calibration-free way to combine the two signals every RAG
      // stack ships, kept exact so the fused ranking hash-matches
      // across engines. Both input rankings are the already-pinned
      // top-k shapes (TakeOrdered BM25; broadcast-query-side heap
      // cosine); the fusion itself touches 40 rows. doc_id and vec_id
      // share the fixture id space (FIXTURES.md) — the alignment every
      // dual-index deployment maintains.
      "q_sim_rrf_fusion",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("_id"))
        // r12 (guide §3.3): each ranking feeds rrfFuse AND its join-back
        // branch — lazily planned, the full BM25 / cosine pipelines ran
        // twice each (before-plan: 20 parquet scans). Both are ≤k-row
        // frames; materialize once per invocation.
        val lex = graft.api.Pipeline.bm25TopDocs(
            Tables.documents(s, d), col("doc_id"), col("text"),
            terms = Seq("spark", "query"), k = 20)
          .select(col("_id"), row_number().over(w).as("rank"))
          .localCheckpoint()
        val sem = graft.api.Sim.cosineTopK(
            Tables.embeddings(s, d), col("vec_id"), col("embedding"),
            isQuery = col("vec_id") === 0, k = 20)
          .select(col("cand_id").as("_id"), col("rn").as("rank"))
          .localCheckpoint()
        graft.api.Sim.rrfFuse(Seq(lex, sem), k0 = 60, k = 10)
          .join(lex.withColumnRenamed("rank", "lex_rank"), Seq("_id"),
                "left")
          .join(sem.withColumnRenamed("rank", "sem_rank"), Seq("_id"),
                "left")
          .select(col("_id").as("doc_id"), col("rrf_e6"),
                  coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
                  coalesce(col("sem_rank"), lit(0)).as("sem_rank"))
          .orderBy(col("rrf_e6").desc, col("doc_id"))
      },
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
        |  GROUP BY tf.doc_id),
        |lex AS (
        |  SELECT doc_id AS id, CAST(row_number() OVER
        |      (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |  FROM scored ORDER BY score DESC, doc_id LIMIT 20),
        |e0 AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |cscore AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |            i -> CAST(q.embedding[i] AS DOUBLE)
        |               * CAST(c.embedding[i] AS DOUBLE)))
        |          / (q.nrm * c.nrm), 4) + 0 AS cos
        |  FROM e q JOIN e c ON q.vec_id = 0 AND q.vec_id <> c.vec_id),
        |sem AS (
        |  SELECT cand_id AS id, CAST(rn AS INTEGER) AS rank FROM (
        |    SELECT cand_id, row_number() OVER
        |        (ORDER BY cos DESC, cand_id ASC) AS rn
        |    FROM cscore) WHERE rn <= 20),
        |u AS (
        |  SELECT id, 1000000 // (60 + rank) AS c FROM lex
        |  UNION ALL
        |  SELECT id, 1000000 // (60 + rank) AS c FROM sem),
        |f AS (
        |  SELECT id, CAST(SUM(c) AS BIGINT) AS rrf_e6
        |  FROM u GROUP BY id ORDER BY rrf_e6 DESC, id LIMIT 10)
        |SELECT f.id AS doc_id, f.rrf_e6,
        |  COALESCE(lex.rank, 0) AS lex_rank,
        |  COALESCE(sem.rank, 0) AS sem_rank
        |FROM f LEFT JOIN lex ON lex.id = f.id
        |       LEFT JOIN sem ON sem.id = f.id
        |ORDER BY f.rrf_e6 DESC, doc_id""".stripMargin),

    Q(
      // clustering-quality gate: simplified silhouette per cell over
      // the 8 fixed coarse centroids (the q_sim_ann_ivf cells), on
      // exact integer squared L2 (grid64 + codegen'd l2sq_i64, the PQ
      // family's metric): s = (b²−a²)/b² per vector against nearest vs
      // runner-up centroid, half-up scale-4, averaged per cell in
      // integers. THE eval a kmeans/IVF deployment runs before
      // trusting its partitioning — reported per cell so thin cells
      // are visible next to their cohesion. One broadcast cross-score
      // pass; everything after is cell-sized.
      "q_embed_silhouette",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val cents = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
        graft.api.Sim.silhouette(emb, col("vec_id"), col("embedding"),
                                 cents)
          .orderBy(col("cell"))
      },
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(x * 10000) AS BIGINT)) AS q64
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |c AS (SELECT vec_id AS cell, q64 AS c64 FROM e WHERE vec_id < 8),
        |p AS (
        |  SELECT e.vec_id, c.cell,
        |    list_sum(list_transform(range(1, len(e.q64) + 1),
        |      i -> (e.q64[i] - c.c64[i]) * (e.q64[i] - c.c64[i]))) AS dd
        |  FROM e CROSS JOIN c),
        |r AS (
        |  SELECT vec_id, cell, dd,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY dd ASC, cell ASC) AS rn
        |  FROM p),
        |ab AS (
        |  SELECT a.vec_id, a.cell, a.dd AS a2, bb.dd AS b2
        |  FROM r a JOIN r bb ON bb.vec_id = a.vec_id AND bb.rn = 2
        |  WHERE a.rn = 1),
        |sv AS (
        |  SELECT cell, CASE WHEN b2 > 0
        |    THEN (2 * ((b2 - a2) * 10000) + b2) // (2 * b2)
        |    ELSE 0 END AS s_e4
        |  FROM ab),
        |t AS (
        |  SELECT cell, COUNT(*) AS n, CAST(SUM(s_e4) AS BIGINT) AS ss
        |  FROM sv GROUP BY cell)
        |SELECT cell, n, CAST((2 * ss + n) // (2 * n) AS DOUBLE) / 10000.0
        |  AS avg_sil4
        |FROM t ORDER BY cell""".stripMargin),

    Q(
      // ANN recall report — "measure, don't guess" as a first-class
      // operator: per query, recall@3 of the 8-bit LSH path against
      // the exact cosine top-3, in ONE query that runs BOTH paths and
      // left-joins approx onto exact. The oracle replays both paths,
      // so the hash match certifies the recall numbers themselves —
      // the eval harness an ANN deployment runs before trusting its
      // index parameters (bits ↑ → cheaper scan, lower recall).
      // Scale shape: both paths are the already-pinned topK shapes
      // (broadcast query side; bucket-pruned candidates for LSH); the
      // report join touches only |Q|·k rows.
      "q_sim_recall_report",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val exact = graft.api.Sim.cosineTopK(
            emb, col("vec_id"), col("embedding"),
            isQuery = col("vec_id") < 10, k = 3)
          .select(col("q_id"), col("cand_id"))
        val approx = graft.api.Sim.lshTopK(
            emb, col("vec_id"), col("embedding"),
            isQuery = col("vec_id") < 10, bits = 8, k = 3)
          .select(col("q_id").as("_q2"), col("cand_id").as("_c2"))
        exact.join(approx, col("q_id") === col("_q2") &&
                           col("cand_id") === col("_c2"), "left")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_exact"),
               sum(when(col("_c2").isNotNull, 1L).otherwise(0L))
                 .as("n_hit"))
          .select(col("q_id"), col("n_exact"), col("n_hit"),
                  intRatio4(col("n_hit") * 10000, col("n_exact"))
                    .as("recall"))
          .orderBy(col("q_id"))
      },
      s"""WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    ${sqlBits("embedding", 8)} AS bucket,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |exsc AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |            i -> CAST(q.embedding[i] AS DOUBLE)
        |               * CAST(c.embedding[i] AS DOUBLE)))
        |          / (q.nrm * c.nrm), 4) AS cos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |exact AS (
        |  SELECT q_id, cand_id FROM (
        |    SELECT q_id, cand_id,
        |      row_number() OVER (PARTITION BY q_id
        |                         ORDER BY cos DESC, cand_id ASC) AS rn
        |    FROM exsc) WHERE rn <= 3),
        |apsc AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |            i -> CAST(q.embedding[i] AS DOUBLE)
        |               * CAST(c.embedding[i] AS DOUBLE)))
        |          / (q.nrm * c.nrm), 4) AS cos
        |  FROM e q JOIN e c
        |    ON q.bucket = c.bucket AND q.vec_id < 10
        |   AND q.vec_id <> c.vec_id),
        |approx AS (
        |  SELECT q_id, cand_id FROM (
        |    SELECT q_id, cand_id,
        |      row_number() OVER (PARTITION BY q_id
        |                         ORDER BY cos DESC, cand_id ASC) AS rn
        |    FROM apsc) WHERE rn <= 3)
        |SELECT x.q_id, COUNT(*) AS n_exact,
        |  CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  CAST((2 * (CAST(SUM(CASE WHEN a.cand_id IS NOT NULL
        |                  THEN 1 ELSE 0 END) AS BIGINT) * 10000)
        |        + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 10000.0
        |    AS recall
        |FROM exact x LEFT JOIN approx a
        |  ON a.q_id = x.q_id AND a.cand_id = x.cand_id
        |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin),

    Q(
      // Mutual-kNN graph (api.Sim.knnGraphLsh): undirected edges where
      // BOTH endpoints rank each other in the other's cosine top-3 —
      // the backbone semantic-cluster structure (hub vectors collect
      // one-directional edges; mutuality filters them out). Declared
      // in the SRP-BLOCKED corpus-scale form: ranking runs within
      // auto-sized sign-bit buckets (bits = binary digits of
      // (n-1) div 64, floor 8 — integer-exact on both engines), so
      // the candidate join is ~n·64 pairs, not n² — the exact form
      // (api.Sim.knnGraph, ApiSpec) measured 231.8× wall at 100× data
      // in the r6 sf10 sweep (168.5 s); this form re-measured 4.4 s
      // there — 6× wall at 100× data, right at the suite median. The
      // oracle replays blocking + both-direction ranking + mutual join
      // verbatim, so the recall trade is pinned, not approximated.
      "q_embed_knn_graph",
      (s, d) => graft.api.Sim.knnGraphLsh(
          Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0),
          col("vec_id"), col("embedding"), k = 3)
        .orderBy(col("node_a"), col("node_b")),
      """WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND vec_id % 5 = 0),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |p AS (SELECT least(greatest(8,
        |              length(bin((count(*) - 1) // 64))),
        |              min(len(embedding))) AS bits FROM e),
        |b AS (
        |  SELECT e.*, array_to_string(list_transform(
        |    embedding[1:p.bits],
        |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
        |  FROM e, p),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |            i -> CAST(q.embedding[i] AS DOUBLE)
        |               * CAST(c.embedding[i] AS DOUBLE)))
        |          / (q.nrm * c.nrm), 4) + 0 AS cos
        |  FROM b q JOIN b c
        |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT q_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos DESC, cand_id ASC) AS rn
        |  FROM scored)
        |SELECT r1.q_id AS node_a, r1.cand_id AS node_b, r1.cos
        |FROM ranked r1 JOIN ranked r2
        |  ON r2.q_id = r1.cand_id AND r2.cand_id = r1.q_id
        |WHERE r1.rn <= 3 AND r2.rn <= 3 AND r1.q_id < r1.cand_id
        |ORDER BY node_a, node_b""".stripMargin),

    Q(
      // Sorted-neighborhood near-dup detection — the record-linkage
      // classic completing the candidate-generation family (LSH bands,
      // sign buckets, inverted index, q-gram filter, and now SN): sort
      // within a blocking key (20-char length band), compare each doc
      // only to its next 3 sort neighbors, confirm with edit distance
      // ≤ 30 on the 120-char prefix. The window is PARTITIONED by the
      // block (blocks are the parallel unit — never a global
      // row_number), and the rank±offset neighbor join is THREE
      // shifted EQUI-joins on (block, rn+off), not a range join: at
      // 100 TB the comparison count is exactly 3n regardless of block
      // skew. Sort key is (text, doc_id) — near-identical texts
      // cluster lexicographically; both engines compare ASCII
      // byte-identically. Recall is the method's documented trade
      // (cross-block or sort-distant pairs are missed — multi-pass
      // with a second key is the standard remedy); the oracle replays
      // the same window+offset definition so the gate certifies the
      // SN semantics exactly.
      "q_dedup_sorted_neighborhood",
      (s, d) => {
        val f = Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
                  ldiv(col("n_chars"), lit(20L)).as("blk"),
                  substring(col("text"), 1, 120).as("pfx"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("blk"))
              .orderBy(col("text"), col("doc_id"))))
          // r12 (guide §3.3): six plan references (3 offsets × 2 join
          // sides) re-ran the scan+window pipeline — materialize once
          // per invocation
          .localCheckpoint()
        val right = f.select(col("blk").as("_blk"), col("rn").as("_rn"),
                             col("doc_id").as("_id"), col("pfx").as("_pfx"))
        Seq(1, 2, 3).map { off =>
          f.join(right, col("blk") === col("_blk") &&
                        col("_rn") === col("rn") + off)
        }.reduce(_ unionAll _)
          .select(least(col("doc_id"), col("_id")).as("id_a"),
                  greatest(col("doc_id"), col("_id")).as("id_b"),
                  levenshtein(col("pfx"), col("_pfx")).as("dist"))
          .filter(col("dist") <= 30)
          .orderBy(col("id_a"), col("id_b"))
      },
      """WITH f AS (
        |  SELECT doc_id, text, n_chars // 20 AS blk,
        |    substr(text, 1, 120) AS pfx,
        |    row_number() OVER (PARTITION BY n_chars // 20
        |                       ORDER BY text ASC, doc_id ASC) AS rn
        |  FROM documents),
        |cand AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb,
        |    levenshtein(a.pfx, b.pfx) AS dist
        |  FROM f a JOIN f b
        |    ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3)
        |SELECT least(ida, idb) AS id_a, greatest(ida, idb) AS id_b,
        |  CAST(dist AS INTEGER) AS dist
        |FROM cand WHERE dist <= 30
        |ORDER BY id_a, id_b""".stripMargin),

    Q(
      // Per-label embedding diversity in ONE corpus pass
      // (api.Sim.pairwiseDiversity): mean pairwise cosine via the
      // sum-vector identity Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖² — the
      // mode-collapse / duplication gauge (≈1 duplicates, ≈0 spread)
      // that the naive form computes with an O(n²) self-join; here the
      // shuffle is |labels|·66 decimals regardless of corpus size.
      // 1e-6-grid quantization makes every accumulation an exact
      // DECIMAL(38,0) sum; the final division is the only double.
      "q_embed_diversity",
      (s, d) => graft.api.Sim.pairwiseDiversity(
          Tables.embeddings(s, d), col("embedding"), col("label"),
          dims = 64)
        .select(col("_g").as("label"), col("n"), col("mean_pair_cos4"))
        .orderBy(col("label")),
      {
        val dims = 64
        val qCols = (0 until dims).map(i =>
          s"CAST(round(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000) " +
            s"AS BIGINT) AS q$i").mkString(", ")
        val s2 = (0 until dims).map(i => s"q$i * q$i").mkString(" + ")
        val tSums = (0 until dims).map(i =>
          s"SUM(CAST(q$i AS HUGEINT)) AS t$i").mkString(", ")
        val sumsq = (0 until dims).map(i => s"t$i * t$i").mkString(" + ")
        s"""WITH q AS (
          |  SELECT label, $qCols
          |  FROM embeddings
          |  WHERE embedding IS NOT NULL AND len(embedding) >= $dims),
          |w AS (SELECT label, ($s2) AS s2, * FROM q),
          |g AS (
          |  SELECT label, COUNT(*) AS n,
          |    SUM(CAST(s2 AS HUGEINT)) AS ss, $tSums
          |  FROM w GROUP BY label),
          |f AS (
          |  SELECT label, n, ss, ($sumsq) AS sumsq
          |  FROM g WHERE n >= 2)
          |SELECT label, CAST(n AS BIGINT) AS n,
          |  round(CAST(sumsq - ss AS DOUBLE)
          |        / CAST(n * (n - 1) AS DOUBLE) / 1e12, 4) + 0
          |    AS mean_pair_cos4
          |FROM f ORDER BY label""".stripMargin
      }),

    Q(
      // SPAN-level dedup (api.Dedup.sharedNgramSpans): WHERE each doc
      // repeats another's text, not just which docs pair up — maximal
      // runs of cross-doc-shared 7-gram starts coalesced into spans
      // (ExactSubstr re-expressed relationally; a run of r covered
      // starts = r+6 shared tokens). 7 matches the contamination
      // contract: one n-gram grid decides both "benchmark overlap" and
      // "intra-corpus repeated span". Report = per-doc rollup (spans,
      // covered-token mass via the span-length sum, widest span) over
      // docs with any shared span — the worklist a span-removal pass
      // consumes, sized ≪ corpus.
      // Scale shape: gram-keyed hash-agg → broadcast-able semi-join →
      // per-doc window; no self-join, nothing O(n²) (Scaladoc at the
      // api entry); countDistinct collapses map-side per gram.
      // NOTE on `span_token_sum`: it is the SUM of per-span token
      // widths, which intentionally double-counts tokens where two
      // spans' n-gram windows overlap — the per-doc COVERED token
      // mass (union-merged, no double count) is what
      // q_dedup_substring_mass computes via coveredTokenMass.
      "q_dedup_substring",
      (s, d) => graft.api.Dedup.sharedNgramSpans(
          Tables.documents(s, d), col("doc_id"), col("text"), n = 7)
        .groupBy(col("doc").as("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
             sum(col("n_tokens")).as("span_token_sum"),
             max(col("n_tokens")).cast("long").as("widest"),
             min(col("span_start")).cast("long").as("first_pos"))
        .orderBy(col("doc_id")),
      s"""WITH tok AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(range(0, len(w) - 6)) AS p, w
        |  FROM tok WHERE len(w) >= 7),
        |sh AS (
        |  SELECT doc_id, p,
        |    concat_ws(' ', w[p+1], w[p+2], w[p+3], w[p+4], w[p+5],
        |              w[p+6], w[p+7]) AS g
        |  FROM pos),
        |shared AS (
        |  SELECT g FROM sh GROUP BY g
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT doc_id, p FROM sh WHERE g IN (SELECT g FROM shared)),
        |isl AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
        |      AS grp
        |  FROM cov),
        |sp AS (
        |  SELECT doc_id, MIN(p) AS s0, MAX(p) AS e0
        |  FROM isl GROUP BY doc_id, grp)
        |SELECT doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(e0 - s0 + 7) AS BIGINT) AS span_token_sum,
        |  CAST(MAX(e0 - s0 + 7) AS BIGINT) AS widest,
        |  CAST(MIN(s0) AS BIGINT) AS first_pos
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Q(
      // The DUPLICATION-MASS headline (api.Dedup.coveredTokenMass):
      // what fraction of each source's tokens sits inside a cross-doc
      // shared 7-gram window — the "X% of the corpus is duplicated
      // text" number dedup papers lead with, and exactly what a
      // span-removal pass would delete. Distinct from
      // q_dedup_substring's per-span rollup: overlapping token
      // windows are UNION-merged (gap ≤ n starts ⇒ one interval), so
      // the mass never double-counts — see the api Scaladoc for the
      // lag-flag island rule that differs from the row_number trick.
      // Scale shape: the sharedNgramSpans pipeline + one lag/cumsum
      // window per doc; the report is one source-sized hash-agg.
      "q_dedup_substring_mass",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mass = graft.api.Dedup.coveredTokenMass(
          docs, col("doc_id"), col("text"), n = 7)
        docs.select(col("doc_id"), col("source"),
                    size(graft.api.Dedup.tokens(col("text")))
                      .cast("long").as("n_tok"))
          .join(mass, col("doc_id") === col("doc"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("covered_tokens").isNotNull, 1L)
                 .otherwise(0L)).as("docs_with_dup"),
               sum(col("n_tok")).as("total_tokens"),
               coalesce(sum(col("covered_tokens")), lit(0L))
                 .as("covered_tokens"))
          .select(col("source"), col("n_docs"), col("docs_with_dup"),
                  col("total_tokens"), col("covered_tokens"),
                  intRatio4(col("covered_tokens") * 10000L,
                            col("total_tokens")).as("dup_frac4"))
          .orderBy(col("source"))
      },
      s"""WITH tok AS (
        |  SELECT doc_id, ${toksSql("text")} AS w FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(range(0, len(w) - 6)) AS p, w
        |  FROM tok WHERE len(w) >= 7),
        |sh AS (
        |  SELECT doc_id, p,
        |    concat_ws(' ', w[p+1], w[p+2], w[p+3], w[p+4], w[p+5],
        |              w[p+6], w[p+7]) AS g
        |  FROM pos),
        |shared AS (
        |  SELECT g FROM sh GROUP BY g
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT doc_id, p FROM sh WHERE g IN (SELECT g FROM shared)),
        |fl AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id
        |                               ORDER BY p) > 7
        |         THEN 1 ELSE 0 END AS nw
        |  FROM cov),
        |isl AS (
        |  SELECT doc_id, p,
        |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY p
        |                  ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND CURRENT ROW) AS grp
        |  FROM fl),
        |iv AS (
        |  SELECT doc_id, MIN(p) AS s0, MAX(p) AS e0
        |  FROM isl GROUP BY doc_id, grp),
        |mass AS (
        |  SELECT doc_id,
        |    CAST(SUM(e0 - s0 + 7) AS BIGINT) AS covered
        |  FROM iv GROUP BY doc_id),
        |dt AS (
        |  SELECT t.doc_id, d.source,
        |    CAST(len(t.w) AS BIGINT) AS n_tok
        |  FROM tok t JOIN documents d ON t.doc_id = d.doc_id),
        |g AS (
        |  SELECT dt.source, COUNT(*) AS n_docs,
        |    SUM(CASE WHEN m.covered IS NOT NULL THEN 1 ELSE 0 END)
        |      AS docs_with_dup,
        |    SUM(dt.n_tok) AS total_tokens,
        |    COALESCE(SUM(m.covered), 0) AS covered_tokens
        |  FROM dt LEFT JOIN mass m ON dt.doc_id = m.doc_id
        |  GROUP BY dt.source)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(docs_with_dup AS BIGINT) AS docs_with_dup,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST(covered_tokens AS BIGINT) AS covered_tokens,
        |  CAST((2 * (covered_tokens * 10000) + total_tokens)
        |       // (2 * total_tokens) AS DOUBLE) / 10000.0 AS dup_frac4
        |FROM g ORDER BY source""".stripMargin),

    Q(
      // minCos OPERATING CURVE: near-dup pair count at each candidate
      // threshold (0.20 … 0.50) in ONE pass over the sign-bucket
      // candidate pairs — the sweep a pipeline owner reads before
      // committing to a dedup threshold, instead of re-running the
      // dedup per τ. Thresholds span the synthetic embeddings' whole
      // within-bucket cosine range (≈0.43–0.51 max per SF), so the
      // curve bends from hundreds of pairs to near-zero — no constant
      // column, every τ row informative. cos is the R3-rounded 1e-4
      // grid, so a threshold comparison can never flap cross-engine.
      // Scale shape: the bits=8 SRP prune bounds candidates exactly
      // like q_dedup_embed_cosine; the τ fan-out is NOT a join at all
      // — seven conditional partial sums in the one pair-frame agg
      // (a τ-dimension nested-loop would broadcast the pair frame,
      // fixture-fine but a hazard once pairs number millions), then a
      // constant-size stack to rows. PlanSpec pins the no-join shape.
      "q_sim_threshold_sweep",
      (s, d) => {
        val pairs = graft.api.Sim.embeddingNearDupPairs(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          bits = 8, minCos = 0.0)
        val taus = Seq(0.20, 0.25, 0.30, 0.35, 0.40, 0.45, 0.50)
        val aggs = taus.zipWithIndex.map { case (t, i) =>
          sum(when(col("cos") >= t, 1L).otherwise(0L)).as(s"_n$i") }
        val stackArgs = taus.zipWithIndex
          .map { case (t, i) => s"${t}D, _n$i" }.mkString(", ")
        pairs.agg(aggs.head, aggs.tail: _*)
          .select(expr(
            s"stack(${taus.size}, $stackArgs) AS (tau, n_pairs)"))
          .orderBy(col("tau"))
      },
      s"""WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    ${sqlBits("embedding", 8)} AS bucket,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |p AS (
        |  SELECT a.vec_id AS a_id,
        |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |          i -> CAST(a.embedding[i] AS DOUBLE)
        |             * CAST(b.embedding[i] AS DOUBLE)))
        |        / (a.nrm * b.nrm), 4) + 0 AS cos
        |  FROM e a JOIN e b
        |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |pp AS (SELECT a_id, cos FROM p WHERE cos >= 0.0),
        |t0(tau0) AS (VALUES (0.20), (0.25), (0.30), (0.35), (0.40),
        |                    (0.45), (0.50)),
        |t AS (SELECT CAST(tau0 AS DOUBLE) AS tau FROM t0)
        |SELECT tau, COUNT(pp.a_id) AS n_pairs
        |FROM t LEFT JOIN pp ON pp.cos >= t.tau
        |GROUP BY tau ORDER BY tau""".stripMargin),

    Q(
      // LSH bucket PURITY diagnostics: per 8-bit sign bucket, how
      // label-homogeneous are the vectors that collide — n, distinct
      // labels, the majority label (count DESC, label ASC rank — an
      // arbitrary argmax could flap engines) and its share. The
      // routing-quality audit behind every q_sim_ann_* row: high
      // purity ⇒ bucket routing respects semantics ⇒ ANN recall is
      // cheap; low purity says spend more bits/probes. Multi-vector
      // buckets only (singletons carry no collision signal).
      // Scale shape: one (bucket, label) hash-agg, windows on the
      // bucket-sized frame; the corpus is scanned once.
      "q_sim_bucket_purity",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("label"),
                  graft.api.Sim.signBits(col("embedding"), 8)
                    .as("bucket"))
        val bl = e.groupBy(col("bucket"), col("label"))
          .agg(count(lit(1)).as("nl"))
        val wb = Window.partitionBy(col("bucket"))
          .orderBy(col("nl").desc, col("label").asc)
        bl.withColumn("rn", row_number().over(wb))
          .groupBy(col("bucket"))
          .agg(sum(col("nl")).as("n"),
               count(lit(1)).as("n_labels"),
               max(when(col("rn") === 1, col("label"))).as("maj_label"),
               max(when(col("rn") === 1, col("nl"))).as("_mc"))
          .filter(col("n") >= 2)
          .select(col("bucket"), col("n"), col("n_labels"),
                  col("maj_label"),
                  intRatio4(col("_mc") * 10000L, col("n"))
                    .as("purity4"))
          .orderBy(col("bucket"))
      },
      s"""WITH e AS (
        |  SELECT vec_id, label, ${sqlBits("embedding", 8)} AS bucket
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |bl AS (
        |  SELECT bucket, label, COUNT(*) AS nl
        |  FROM e GROUP BY bucket, label),
        |r AS (
        |  SELECT bucket, label, nl,
        |    row_number() OVER (PARTITION BY bucket
        |                       ORDER BY nl DESC, label ASC) AS rn
        |  FROM bl),
        |g AS (
        |  SELECT bucket, CAST(SUM(nl) AS BIGINT) AS n,
        |    COUNT(*) AS n_labels,
        |    MAX(CASE WHEN rn = 1 THEN label END) AS maj_label,
        |    CAST(MAX(CASE WHEN rn = 1 THEN nl END) AS BIGINT) AS mc
        |  FROM r GROUP BY bucket)
        |SELECT bucket, n, n_labels, maj_label,
        |  CAST((2 * (mc * 10000) + n) // (2 * n) AS DOUBLE) / 10000.0
        |    AS purity4
        |FROM g WHERE n >= 2 ORDER BY bucket""".stripMargin),

    Q(
      // HUBNESS diagnostics of the embedding space: in-degree
      // distribution of the directed top-3 neighbor lists (how often
      // each vector appears in OTHERS' top-k) — the classic
      // high-dimensional ANN pathology (Radovanović et al., JMLR'10):
      // a few "hub" points dominate every neighbor list and poison
      // kNN votes and dedup sweeps; a skewed in-degree histogram is
      // the tell. Ranker = the pinned int8-quantized exact-integer
      // top-k over the vec_id<60 query slice; the report is the
      // in-degree histogram plus the max hub (count DESC, id ASC —
      // rank-deterministic).
      // Scale shape: the broadcast-query × one-scan ranker; post-rank
      // work is |Q|·k rows, histogram is in-degree-sized.
      "q_sim_hubness",
      (s, d) => {
        val ranked = graft.api.Sim.quantizedTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 60, k = 3)
        // r12 (guide §3.3): indeg feeds two branches (hub argmax + the
        // histogram), which re-planned the whole quantizedTopK scoring
        // pass; materialize the candidate-sized in-degree frame once
        // per invocation.
        val indeg = ranked.groupBy(col("cand_id"))
          .agg(count(lit(1)).as("indeg"))
          .localCheckpoint()
        // max hub = max(struct(indeg, -cand_id)): the (indeg DESC,
        // cand_id ASC) rank-1 row as a 1-row hash-agg max instead of
        // a global window sort over the in-degree frame
        val hub = indeg
          .agg(max(struct(col("indeg"), (-col("cand_id")).as("nid")))
            .as("_h"))
          .select((-col("_h.nid")).as("_hid"),
                  col("_h.indeg").as("_hdeg"))
        indeg.groupBy(col("indeg"))
          .agg(count(lit(1)).as("n_vectors"))
          .crossJoin(broadcast(hub))
          .select(col("indeg"), col("n_vectors"),
                  col("_hid").as("top_hub_id"),
                  col("_hdeg").as("top_hub_indeg"))
          .orderBy(col("indeg"))
      },
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_max(list_transform(embedding, x -> abs(x))) AS amax,
        |    embedding
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(x * (127.0 / CAST(amax AS DOUBLE)))
        |           AS INT)) AS qvec
        |  FROM e WHERE amax > 0),
        |scored AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(range(1, len(a.qvec) + 1),
        |      i -> CAST(a.qvec[i] AS BIGINT) * b.qvec[i])) AS BIGINT)
        |      AS qdot
        |  FROM q a JOIN q b ON a.vec_id < 60 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT q_id, cand_id,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY qdot DESC, cand_id ASC) AS rn
        |  FROM scored),
        |indeg AS (
        |  SELECT cand_id, COUNT(*) AS indeg
        |  FROM ranked WHERE rn <= 3 GROUP BY cand_id),
        |hub AS (
        |  SELECT cand_id AS hid, indeg AS hdeg FROM (
        |    SELECT cand_id, indeg,
        |      row_number() OVER (ORDER BY indeg DESC, cand_id) AS rk
        |    FROM indeg) WHERE rk = 1)
        |SELECT indeg, COUNT(*) AS n_vectors,
        |  hub.hid AS top_hub_id, hub.hdeg AS top_hub_indeg
        |FROM indeg CROSS JOIN hub
        |GROUP BY indeg, hub.hid, hub.hdeg
        |ORDER BY indeg""".stripMargin)
  )
}
