package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, parameterized similarity-search API over an embedding column
  * (`array<float>`) — exact brute-force baseline plus two ANN scale
  * paths (SRP-LSH sign buckets, IVF cells). The `q_sim_*` operators
  * delegate here, so the DuckDB oracle gate verifies this code.
  *
  * Dot products run through `dot_f32`, the native codegen'd Catalyst
  * expression (graft.functions.DotF32) — one branch-free loop inside
  * whole-stage codegen; the higher-order-function formulation measured
  * 8× slower (interpreted). Cosines are round(…,4) so rankings compare
  * identical numbers everywhere (R3); ties break on candidate id.
  *
  * Materialization seams: frames consumed by several plan branches are
  * materialized once per invocation with an eager `localCheckpoint()`
  * — fast, but its blocks are EXECUTOR-LOCAL, so on a multi-executor
  * cluster an executor loss mid-query fails the job (the retry
  * recomputes), and upstream work/exceptions surface at
  * DataFrame-construction time. The blocks are never registered with
  * the CacheManager; ContextCleaner reclaims them once the frame is
  * unreachable.
  */
object Sim {

  /** '0'/'1' sign-bit string of the first n embedding dims — random-
    * hyperplane LSH with axis-aligned planes. Public so callers can
    * pre-bucket collections at write time. A null embedding yields a
    * NULL bucket (never equi-joins), not the empty-string bucket
    * concat_ws alone would fabricate. */
  def signBits(emb: Column, n: Int): Column =
    when(emb.isNull, lit(null).cast("string"))
      .otherwise(concat_ws("", transform(slice(emb, 1, n),
        x => when(x >= 0, "1").otherwise("0"))))

  private def dot(a: String, b: String) = expr(s"dot_f32($a, $b)")

  /** Top-k per query WITHOUT the window idiom. `row_number() OVER
    * (PARTITION BY q_id ORDER BY score)` shuffles EVERY scored pair
    * into one partition per query and sorts it — at 100 TB that is
    * |Q|·n rows through the exchange with guaranteed per-query skew.
    * The bounded-heap aggregate (functions.TopKByLong, pairs form)
    * keeps k candidates per (query × partition) MAP-SIDE, so at most
    * |Q|·k·partitions pairs cross the wire and nothing is ever sorted
    * but the final k.
    *
    * `ord` must be an exact-integer ranking encoding, higher = better
    * (ties break to the smaller cand_id inside the aggregate — the
    * same (score DESC, cand_id ASC) order the window form used).
    * Cosine callers pass round(cos·10⁴) — the round-4 grid is already
    * integral at scale 4, so the encoding is lossless and
    * `_ord / 10000.0` reproduces the round(…,4) double bit-for-bit.
    * Null ords (null embeddings) never enter the heap.
    * Returns (q_id, cand_id, _ord, rn). */
  private def heapRank(scored: DataFrame, ord: Column, k: Int): DataFrame = {
    graft.functions.TopKByLong.register(scored.sparkSession)
    scored.withColumn("_ord", ord)
      .groupBy(col("q_id"))
      .agg(expr(s"topk_pairs_by_long(cand_id, _ord, $k)").as("_t"))
      .select(col("q_id"), posexplode(col("_t")).as(Seq("_p", "_pair")))
      .select(col("q_id"), col("_pair.value").as("cand_id"),
              col("_pair.ord").as("_ord"),
              (col("_p") + 1).cast("int").as("rn"))
  }

  /** heapRank for round-4 cosine scores: encode → rank → decode.
    * Undefined cosines (NaN from a zero-norm vector on either side)
    * are EXCLUDED from the ranking — the long encoding would otherwise
    * coerce NaN to ord 0 and fabricate cos = 0.0 mid-pack (and the old
    * window form was no better: Spark sorts NaN above every double, so
    * a degenerate vector ranked FIRST). No similarity is defined for a
    * zero vector; it should appear in nobody's top-k (review r4
    * finding). */
  private def heapRankCos(scored: DataFrame, k: Int): DataFrame =
    heapRank(scored.filter(!isnan(col("cos"))),
             round(col("cos") * 10000).cast("long"), k)
      .select(col("q_id"), col("cand_id"),
              (col("_ord") / 10000.0).as("cos"), col("rn"))

  /** Canonical projection: (vec_id, embedding, nrm) plus the caller's
    * predicates evaluated BEFORE the rename as `_isq`/`_isc` flag
    * columns — so isQuery/isCentroid may reference any column of the
    * original frame, not just the post-projection names. */
  private def withNorm(df: DataFrame, id: Column, emb: Column,
                       flags: Seq[(String, Column)] = Nil): DataFrame = {
    graft.functions.DotF32.register(df.sparkSession)
    df.select((Seq(id.as("vec_id"), emb.as("embedding")) ++
        flags.map { case (n, c) => c.as(n) }): _*)
      .withColumn("nrm", sqrt(expr("dot_f32(embedding, embedding)")))
  }

  /** Exact top-k cosine neighbours for the rows matching `isQuery`:
    * the (small) query side broadcasts against ONE linear scan of the
    * collection — correct baseline, O(|Q|·n) dot products, no shuffle
    * of the collection. Returns (q_id, cand_id, cos, rn). */
  def cosineTopK(
      df: DataFrame, id: Column, emb: Column, isQuery: Column,
      k: Int): DataFrame = {
    // zero-norm vectors have no defined cosine — and under ANSI mode
    // (Spark 4 default) the division RAISES rather than yielding NaN,
    // so they are excluded up front, exactly as kmeansFit does
    // r12 (guide §3.3): e feeds the broadcast query side AND the
    // candidate scan — materialize the normed collection once per
    // invocation instead of planning the norm pipeline twice
    val e = withNorm(df, id, emb, Seq("_isq" -> isQuery))
      .filter(col("embedding").isNotNull && col("nrm") > 0)
      .localCheckpoint()
    val q = e.filter(col("_isq"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("cand_id"),
                     col("embedding").as("c_emb"), col("nrm").as("c_nrm"))

    val scored = broadcast(q).join(c, col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
              round(dot("q_emb", "c_emb") / (col("q_nrm") * col("c_nrm")), 4)
                .as("cos"))
    heapRankCos(scored, k)
  }

  /** Cosine radius (range) search: every candidate within cosine ≥
    * `minCos` of each query — the threshold sibling of [[cosineTopK]]
    * ("everything this similar", vs "the k most similar"): the recall
    * floor for dedup sweeps and the candidate generator when match
    * COUNT, not rank, is the semantic. The threshold tests the
    * R3-ROUNDED score (the same 1e-4 grid the gate compares), so a
    * boundary candidate can never flap cross-engine. Same scale shape
    * as cosineTopK: queries broadcast, ONE candidate scan, no heap —
    * output size is data-dependent (radius!), so callers at corpus
    * scale bucket-prune first (signBits/IVF) exactly like
    * embeddingNearDupPairs. Returns (q_id, cand_id, cos). */
  def cosineRadius(
      df: DataFrame, id: Column, emb: Column, isQuery: Column,
      minCos: Double): DataFrame = {
    // r12 (guide §3.3): e feeds the broadcast query side AND the
    // candidate scan — materialize the normed collection once per
    // invocation instead of planning the norm pipeline twice
    val e = withNorm(df, id, emb, Seq("_isq" -> isQuery))
      .filter(col("embedding").isNotNull && col("nrm") > 0)
      .localCheckpoint()
    val q = e.filter(col("_isq"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
              col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("cand_id"),
                     col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    broadcast(q).join(c, col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
              round(dot("q_emb", "c_emb") / (col("q_nrm") * col("c_nrm")),
                    4).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Mutual-kNN graph: undirected edges (a, b), a < b, where each
    * endpoint sits in the other's EXACT top-k cosine neighbour list —
    * the semantic-cluster backbone (mutual edges are far more
    * dup-indicative than one-directional ones, which hub vectors
    * accumulate for free). Exact O(n²) baseline shape: at corpus
    * scale, swap `cosineTopK` for `lshTopK`/`ivfTopK` — the mutual
    * semi-join composition is identical over any (q_id, cand_id, rn)
    * neighbour frame. Returns (node_a, node_b, cos). */
  def knnGraph(df: DataFrame, id: Column, emb: Column, k: Int)
      : DataFrame = {
    val top = cosineTopK(df, id, emb, isQuery = lit(true), k)
    val rev = top.select(col("q_id").as("b_id"), col("cand_id").as("a_id"))
    top.filter(col("q_id") < col("cand_id"))
      .join(rev, col("q_id") === col("a_id") &&
                 col("cand_id") === col("b_id"), "left_semi")
      .select(col("q_id").as("node_a"), col("cand_id").as("node_b"),
              col("cos"))
  }

  /** SRP-blocked mutual-kNN graph — the corpus-scale form of
    * [[knnGraph]] (the exact composition above is O(n²) dot products:
    * measured 231.8× wall at 100× data in the r6 sf10 full sweep —
    * the worst growth in the suite). Every vector buckets by its
    * sign-bit string and ranks neighbours ONLY within its bucket, so
    * the candidate join is Σ_b n_b² ≈ n·targetBucket instead of n²,
    * and the bucket width AUTO-SIZES with the corpus (the r5 SRP
    * lesson: any fixed width saturates): bits = #binary digits of
    * ⌈n/targetBucket⌉, floor 8, capped at the embedding dim —
    * an INTEGER-EXACT formula (`length(bin((n-1) div t))`) both
    * engines compute identically, unlike ceil(log2(·)) whose
    * float rounding can flap at exact powers of two. n rides a
    * broadcast single-row aggregate (no eager count; the audit's
    * bounded-cross idiom). Unlike [[lshTopK]] nothing broadcasts the
    * query side — here EVERY vector is a query, so the bucket join is
    * a plain shuffle equi-join on the bucket key and the per-bucket
    * top-k runs in the bounded heap aggregate map-side. Recall is the
    * method's documented trade (cross-bucket mutual edges are missed;
    * multi-probe or band-OR are the standard remedies); edges that DO
    * emit carry exact round-4 cosines, so the oracle replays the
    * blocking + ranking verbatim. Returns (node_a, node_b, cos). */
  def knnGraphLsh(df: DataFrame, id: Column, emb: Column, k: Int,
                  targetBucket: Int = 64): DataFrame = {
    val e = withNorm(df, id, emb)
      .filter(col("embedding").isNotNull && col("nrm") > 0)
    val nrow = e.agg(count(lit(1)).as("_n"),
                     min(size(col("embedding"))).as("_dim"))
    val b = e.crossJoin(broadcast(nrow))
      .withColumn("_bits",
        least(greatest(lit(8), length(bin(graft.Determinism.ldiv(
            col("_n") - 1, lit(targetBucket.toLong))))),
          col("_dim")).cast("int"))
      .withColumn("bucket", concat_ws("",
        transform(slice(col("embedding"), lit(1), col("_bits")),
          x => when(x >= 0, "1").otherwise("0"))))
      // r12 (guide §3.3): feeds both self-join sides — materialize the
      // bucketed collection once per invocation instead of planning
      // the norm+bucket pipeline twice
      .localCheckpoint()
    val q = b.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
                     col("nrm").as("qn"), col("bucket"))
    val c = b.select(col("vec_id").as("cand_id"),
                     col("embedding").as("ce"), col("nrm").as("cn"),
                     col("bucket").as("bucket2"))
    val scored = q.join(c, col("bucket") === col("bucket2") &&
                           col("q_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
    // r12: the mutual-kNN semi-join consumes `top` twice — materialize
    // the n×k ranked frame once per invocation
    val top = heapRankCos(scored, k).localCheckpoint()
    val rev = top.select(col("q_id").as("b_id"), col("cand_id").as("a_id"))
    top.filter(col("q_id") < col("cand_id"))
      .join(rev, col("q_id") === col("a_id") &&
                 col("cand_id") === col("b_id"), "left_semi")
      .select(col("q_id").as("node_a"), col("cand_id").as("node_b"),
              col("cos"))
  }

  /** LSH-bucketed approximate top-k: queries only scan their own
    * `bits`-bit sign bucket (~1/2^bits of the collection) — recall
    * traded for a bounded candidate set. Same output shape as
    * cosineTopK.
    *
    * `nprobe` > 1 enables MULTI-PROBE LSH (Lv et al., VLDB'07): each
    * query also probes the nprobe−1 buckets at Hamming distance 1
    * obtained by flipping its LEAST-CONFIDENT sign bits — the dims
    * whose |value| is smallest, i.e. the hyperplanes the vector sits
    * closest to and whose side a true neighbour most plausibly lands
    * across. Recall rises toward exact while the scan stays bounded at
    * nprobe/2^bits of the collection; every probed bucket is distinct,
    * so no candidate dedup pass is needed. The probe expansion is a
    * per-QUERY-row array transform (the tiny broadcast side) — the
    * collection side is untouched, and the nprobe=1 plan is
    * byte-identical to r2's. */
  def lshTopK(
      df: DataFrame, id: Column, emb: Column, isQuery: Column,
      bits: Int, k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1 && nprobe <= bits + 1,
      s"nprobe must be in [1, bits + 1 = ${bits + 1}]: own bucket plus " +
      "at most one flip per sign bit")
    val e = withNorm(df, id, emb, Seq("_isq" -> isQuery))
      .filter(col("embedding").isNotNull && col("nrm") > 0)
      .withColumn("bucket", signBits(col("embedding"), bits))
      .localCheckpoint() // r12: feeds both bucket-join sides
    val q0 = e.filter(col("_isq"))
    val q =
      if (nprobe == 1)
        q0.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
                  col("bucket"), col("nrm").as("qn"))
      else {
        // rank the first `bits` dims by |value| ascending (ties on dim
        // index): positions of the least-confident hyperplane sides
        val ranked = sort_array(zip_with(
          slice(col("embedding"), 1, bits), sequence(lit(1), lit(bits)),
          (x, i) => struct(abs(x).as("a"), i.as("i"))))
        val flips = transform(slice(ranked, 1, nprobe - 1), s => {
          val i = s.getField("i")
          val flipped = when(col("bucket").substr(i, lit(1)) === "1",
                             lit("0")).otherwise(lit("1"))
          concat(col("bucket").substr(lit(1), i - lit(1)), flipped,
                 col("bucket").substr(i + lit(1), lit(bits)))
        })
        q0.withColumn("_probes", concat(array(col("bucket")), flips))
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
                  explode(col("_probes")).as("bucket"),
                  col("nrm").as("qn"))
      }
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
                     col("bucket").as("bucket2"), col("nrm").as("cn"))
    val scored = broadcast(q)
      .join(c, col("bucket") === col("bucket2") &&
               col("q_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
    heapRankCos(scored, k)
  }

  /** IVF-style approximate top-k: every vector is assigned to its
    * nearest centroid (rows matching `isCentroid`; real IVF k-means-
    * trains these — the partition/search mechanics are what scales);
    * queries probe their `nprobe` nearest cells (collection rows keep
    * nprobe=1 — standard IVF). Centroids broadcast. For nprobe=1 the
    * assignment is a max_by aggregation, so partial aggregation
    * collapses the n×k candidate rows to one per vector MAP-SIDE; the
    * multi-probe query side ranks cells with a window over the tiny
    * query×centroid set only. */
  def ivfTopK(
      df: DataFrame, id: Column, emb: Column, isQuery: Column,
      isCentroid: Column, k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val e = withNorm(df, id, emb,
      Seq("_isq" -> isQuery, "_isc" -> isCentroid))
      .filter(col("embedding").isNotNull && col("nrm") > 0)
    val cent = e.filter(col("_isc"))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"),
              col("nrm").as("cnrm"))
    // a true cross join — the previous `vec_id =!= -1` pseudo-condition
    // silently dropped any vector whose id was -1 or null
    val assign = e.crossJoin(broadcast(cent))
      .withColumn("ccos",
        round(dot("embedding", "cemb") / (col("nrm") * col("cnrm")), 4))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("embedding"), col("nrm"), col("cent_id")),
        struct(col("ccos"), (-col("cent_id")).as("neg"))).as("b"),
        max(col("_isq")).as("_isq"))
      .select(col("vec_id"), col("b.embedding").as("embedding"),
              col("b.nrm").as("nrm"), col("b.cent_id").as("cell"),
              col("_isq"))
    val q =
      if (nprobe == 1)
        assign.filter(col("_isq"))
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
                  col("nrm").as("qn"), col("cell"))
      else {
        // rank every (query, centroid) pair — queries are few, so this
        // window runs over a tiny set — and probe the top-nprobe cells
        val wCell = Window.partitionBy(col("vec_id"))
          .orderBy(col("ccos").desc, col("cent_id").asc)
        e.filter(col("_isq")).crossJoin(broadcast(cent))
          .withColumn("ccos",
            round(dot("embedding", "cemb") / (col("nrm") * col("cnrm")), 4))
          .withColumn("cr", row_number().over(wCell))
          .filter(col("cr") <= nprobe)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
                  col("nrm").as("qn"), col("cent_id").as("cell"))
      }
    val c = assign.select(col("vec_id").as("cand_id"),
                          col("embedding").as("ce"),
                          col("nrm").as("cn"), col("cell").as("cell2"))
    val scored = broadcast(q)
      .join(c, col("cell") === col("cell2") &&
               col("q_id") =!= col("cand_id"))
      .withColumn("cos", round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
    heapRankCos(scored, k)
  }

  /** Symmetric int8 quantization with per-vector max-abs calibration:
    * q_i = round(x_i · 127/amax) ∈ [−127, 127] plus the double `scale`
    * for dequantization — the 4× memory/bandwidth shrink an ANN serving
    * tier applies before shipping vectors. Pure map-side (the HOF
    * transform is fine here: cheap per-element prep, not a hot
    * aggregation loop); null and all-zero vectors are dropped — no
    * scale exists for them. The arithmetic (float→double promote,
    * divide, round-half-away-from-zero) is bit-reproducible across
    * engines, so quantized checksums are oracle-checkable.
    * Returns (vec_id, qvec array<int>, scale). */
  def quantizeInt8(df: DataFrame, id: Column, emb: Column,
      extra: Seq[(String, Column)] = Nil): DataFrame =
    df.select(id.as("vec_id") +: emb.as("embedding") +:
        extra.map { case (n, c) => c.as(n) }: _*)
      .filter(col("embedding").isNotNull)
      .withColumn("_amax",
        array_max(transform(col("embedding"), x => abs(x))))
      .filter(col("_amax") > 0)
      .withColumn("scale", lit(127.0) / col("_amax"))
      .select(col("vec_id") +:
              transform(col("embedding"),
                x => round(x * col("scale")).cast("int")).as("qvec") +:
              col("scale") +: extra.map(e => col(e._1)): _*)

  /** Exact top-k over [[quantizeInt8]]-compressed vectors: the serving
    * path of a quantized ANN tier — queries and collection both live as
    * int8 arrays, the score is the RAW INTEGER dot product (exact int64
    * math, no floats anywhere in scoring), and the per-vector scales
    * ride along for callers that want to dequantize afterwards. Same
    * broadcast-query × one-collection-scan shape as [[cosineTopK]];
    * the ranking is bit-deterministic by construction (ties break on
    * cand_id), which float cosine can never fully promise.
    * Returns (q_id, cand_id, qdot, rn). */
  def quantizedTopK(
      df: DataFrame, id: Column, emb: Column, isQuery: Column,
      k: Int): DataFrame = {
    // r12 (guide §3.3): qz feeds the broadcast query side AND the
    // candidate scan — materialize the quantized collection once
    val qz = quantizeInt8(df, id, emb, Seq("_isq" -> isQuery))
      .localCheckpoint()
    val q = qz.filter(col("_isq"))
      .select(col("vec_id").as("q_id"), col("qvec").as("q_q"))
    val c = qz.select(col("vec_id").as("cand_id"), col("qvec").as("c_q"))
    val scored = broadcast(q).join(c, col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
              expr("""aggregate(
                        zip_with(q_q, c_q, (a, b) -> CAST(a AS BIGINT) * b),
                        0L, (acc, x) -> acc + x)""").as("qdot"))
    heapRank(scored, col("qdot"), k)
      .select(col("q_id"), col("cand_id"), col("_ord").as("qdot"),
              col("rn"))
  }

  /** Product-quantization top-k with asymmetric-distance computation
    * (ADC) — the FAISS IVF-PQ memory tier expressed relationally. Each
    * vector is cut into `m` subvectors; every subvector is encoded as
    * the id of its nearest codebook entry (rows matching `isCodebook`
    * donate their subvectors as the per-subspace codebooks), so a
    * candidate is stored as m small codes instead of d floats — a d/m
    * compression of the serving set. A query is NOT encoded
    * (asymmetric): its exact distance to every codebook entry of every
    * subspace becomes a lookup table (|Q|·m·ks rows, broadcast), and a
    * candidate's ADC distance is the sum of m LUT hits — integer adds,
    * never a d-dim float op per pair.
    *
    * Everything is exact int64 math on the 1e-4 grid
    * (`round(x·10⁴)` per dim — the same cross-engine-reproducible
    * quantization as [[quantizeInt8]]), so encode, LUT, and ranking
    * hash-match any engine. Ties rank the smaller cand_id.
    *
    * Scale shape: the encode pass is the one O(n·ks·d) scan (done once
    * at ingest in a real deployment; codes are what you'd persist),
    * the LUT is query-sized and broadcast, and scoring shuffles only
    * (q_id, cand_id, partial-sum) triples — map-side partials over the
    * m code hits, then [[heapRank]]'s bounded-heap top-k, never a
    * per-query global sort. Vector length must be divisible by m
    * (enforced at runtime by the slice arithmetic producing equal
    * subvectors). Returns (q_id, cand_id, adc_dist, rn). */
  /** 1e-4-grid integer projection shared by the PQ family. */
  private def grid64(emb: Column): Column =
    transform(emb, x => round(x * 10000).cast("long"))

  /** Exact integer squared L2 between two long arrays — the native
    * codegen'd expression (functions.L2SqI64, DotF32's integer
    * sibling): the `aggregate(zip_with(...))` form runs interpreted
    * with an intermediate diffs array, and the PQ encode pass
    * evaluates this O(n·ks·m) times at ingest. Integer adds are
    * order-independent, so the value is identical either way. Callers
    * (pqTopK/ivfPqTopK) register the function on their session. */
  private def d2(a: String, b: String) = expr(s"l2sq_i64($a, $b)")

  /** (…, j, sv): explode a `q64` long-array column into its m
    * equal-length integer subvectors. */
  private def subvectors(base: DataFrame, m: Int,
                         keep: Seq[String]): DataFrame =
    base.select(keep.map(col) :+
        posexplode(expr(
          s"""transform(sequence(0, ${m - 1}),
             |  j -> slice(q64, j * (size(q64) div $m) + 1,
             |             size(q64) div $m))""".stripMargin))
          .as(Seq("j", "sv")): _*)

  /** Per-subspace codebooks from the flagged rows: (code, cj, csv). */
  private def pqCodebook(sub: DataFrame): DataFrame =
    sub.filter(col("_iscb"))
      .select(col("vec_id").as("code"), col("j").as("cj"),
              col("sv").as("csv"))

  /** Encode every vector as its nearest codebook entry per subspace:
    * (cand_id, j, code) — the persistable d/m-compressed form. */
  private def pqEncode(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), col("j") === col("cj"))
      .select(col("vec_id"), col("j"), col("code"),
              d2("sv", "csv").as("d"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d").as("d"), col("code").as("code"))).as("b"))
      .select(col("vec_id").as("cand_id"), col("j"),
              col("b.code").as("code"))

  /** ADC lookup table: exact query-to-codebook subdistances
    * (q_id, j, code, d) — |Q|·m·ks rows regardless of n. */
  private def pqLut(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.filter(col("_isq"))
      .join(broadcast(cb), col("j") === col("cj"))
      .select(col("vec_id").as("q_id"), col("j"), col("code"),
              d2("sv", "csv").as("d"))

  def pqTopK(
      df: DataFrame, id: Column, emb: Column,
      isQuery: Column, isCodebook: Column,
      m: Int, k: Int): DataFrame = {
    require(m >= 1, "pqTopK: m must be >= 1")
    graft.functions.L2SqI64.register(df.sparkSession)
    // r13 (guide §3.3): base feeds the codebook, encode, and LUT
    // branches — each re-planned the scan + grid64 quantization (6
    // parquet scans in plans/r13/q_sim_ann_pq_before.txt). One
    // materialization per invocation; the q64 grid is computed once.
    // A/B (plans/r13/ab/b3_*/b4_*): 0.79× at sf0.1 but 1.10× at sf1 —
    // kept on the measured-at-scale number (the duplicated subtrees
    // here are all corpus-sized, so the dedup win grows with data
    // while the checkpoint overhead stays fixed).
    val base = df
      .select(id.as("vec_id"), emb.as("embedding"),
              isQuery.as("_isq"), isCodebook.as("_iscb"))
      .filter(col("embedding").isNotNull)
      .withColumn("q64", grid64(col("embedding")))
      .localCheckpoint()
    val sub = subvectors(base, m, Seq("vec_id", "_isq", "_iscb"))
    val cb = pqCodebook(sub)
    val enc = pqEncode(sub, cb)
    val lut = pqLut(sub, cb)
    val scored = enc
      .join(broadcast(lut), Seq("j", "code"))
      .filter(col("cand_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("cand_id"))
      .agg(sum(col("d")).as("adc"))
    heapRank(scored, -col("adc"), k)
      .select(col("q_id"), col("cand_id"),
              (-col("_ord")).as("adc_dist"), col("rn"))
  }

  /** IVF-PQ: the complete FAISS serving architecture — a coarse
    * inverted-file tier (every vector assigned to its nearest centroid
    * cell by EXACT integer squared L2 on the 1e-4 grid; rows matching
    * `isCentroid` donate the cells) prunes the candidate set to the
    * query's `nprobe` closest cells, and only those candidates are
    * scored through [[pqTopK]]'s broadcast-LUT ADC sum. Global (not
    * per-cell-residual) codebooks — the residual refinement is the
    * documented production delta, identical plumbing with
    * `sv − cell_centroid_sv` subvectors.
    *
    * Scale: the scoring join gains the cell equi-key, so per query
    * only ~nprobe/|cells| of the encoded corpus is touched — on top of
    * PQ's d/m bandwidth shrink. Assignment and encode are the two
    * ingest-time scans; both persist. Ties everywhere break to the
    * smaller id, so the whole composition is hash-deterministic.
    * Returns (q_id, cand_id, adc_dist, rn). */
  def ivfPqTopK(
      df: DataFrame, id: Column, emb: Column,
      isQuery: Column, isCentroid: Column, isCodebook: Column,
      m: Int, nprobe: Int, k: Int): DataFrame = {
    require(m >= 1, "ivfPqTopK: m must be >= 1")
    require(nprobe >= 1, "ivfPqTopK: nprobe must be >= 1")
    graft.functions.L2SqI64.register(df.sparkSession)
    // r13 (guide §1.1, TRIED AND REVERTED): base feeds centroids,
    // assignment, probes, codebook, encode, and LUT — 8 embeddings
    // scans in plans/r13/q_sim_ann_ivfpq_before.txt — but the §3.3
    // seam measured 0.81× at sf0.1 and 0.93× at sf1 (plans/r13/ab/
    // b3_*/b4_*): unlike pqTopK (whose seam wins at sf1 and is kept),
    // the extra IVF branches are centroid-bounded, overlap on idle
    // capacity, and the checkpoint of the corpus-wide q64 frame
    // serializes more than it saves at both measured SFs.
    val base = df
      .select(id.as("vec_id"), emb.as("embedding"),
              isQuery.as("_isq"), isCentroid.as("_isc"),
              isCodebook.as("_iscb"))
      .filter(col("embedding").isNotNull)
      .withColumn("q64", grid64(col("embedding")))
    val cents = base.filter(col("_isc"))
      .select(col("vec_id").as("cent_id"), col("q64").as("c64"))
    val cellDists = base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("_isq"), col("cent_id"),
              d2("q64", "c64").as("cd"))
    // candidate → its one cell (argmin, ties to the smaller cent_id)
    val assign = cellDists
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cd").as("d"), col("cent_id").as("cell")))
        .as("b"))
      .select(col("vec_id").as("cand_id"), col("b.cell").as("cell"))
    // query → its nprobe closest cells (tiny frame: |Q|·|cells|)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("cd").asc, col("cent_id").asc)
    val probes = cellDists.filter(col("_isq"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    val sub = subvectors(base, m, Seq("vec_id", "_isq", "_iscb"))
    val cb = pqCodebook(sub)
    val enc = pqEncode(sub, cb).join(assign, "cand_id")
    val lut = pqLut(sub, cb)
    val scored = enc
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .filter(col("cand_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("cand_id"))
      .agg(sum(col("d")).as("adc"))
    heapRank(scored, -col("adc"), k)
      .select(col("q_id"), col("cand_id"),
              (-col("_ord")).as("adc_dist"), col("rn"))
  }

  /** Spherical k-means (Lloyd's) over an `array<float>` embedding
    * column — the trainer that turns `ivfTopK`'s "rows matching
    * isCentroid" from a caller-supplied guess into learned cell
    * centers, and the core of embedding-cluster semantic dedup.
    *
    * Deterministic by construction: init = the k lowest-id vectors
    * (no sampling — replayable on any cluster size), assignment =
    * max cosine with centroid-index tiebreak. Returns
    * (cell, centroid array<float>, n_members).
    *
    * Scale shape: centroids live on the driver BETWEEN jobs (k×dim
    * floats — tiny by definition; this is how MLlib's KMeans works
    * too) and broadcast INTO each iteration. Per iteration: one
    * crossJoin×broadcast + map-side `max_by` partial agg for
    * assignment (the ivfTopK shape — n×k dot products fused in
    * codegen'd dot_f32, collapsed to one row per vector before the
    * exchange), then a posexplode + (cell,pos) hash-agg for the mean
    * update — both linear in n, nothing driver-side but the k
    * centroids themselves. Empty cells keep their previous centroid.
    *
    * Centroid means are double sums (partition-order sensitive in the
    * last ulp) — fine for a trainer; anything oracle-checked should
    * consume the ASSIGNMENT (integer cells), not raw centroid floats. */
  def kmeansFit(
      df: DataFrame, id: Column, emb: Column,
      k: Int, iters: Int = 5): DataFrame = {
    require(k >= 1, "kmeansFit: k must be >= 1")
    require(iters >= 0, "kmeansFit: iters must be >= 0")
    val spark = df.sparkSession
    val e = withNorm(df, id, emb)
      .filter(col("embedding").isNotNull && col("nrm") > 0)
    var cents: Array[(Int, Seq[Float])] =
      e.orderBy(col("vec_id").asc).limit(k)
        .select(col("embedding")).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0)) }

    def centDf(cs: Array[(Int, Seq[Float])]): DataFrame =
      spark.createDataFrame(cs.toSeq).toDF("cell", "cemb")
        .withColumn("cnrm", sqrt(expr("dot_f32(cemb, cemb)")))

    def assign(cs: Array[(Int, Seq[Float])]): DataFrame =
      assignCells(e, centDf(cs), round4 = false)

    for (_ <- 0 until iters) {
      val means = assign(cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("v"))
        .select(col("cell"), col("v.m").as("m"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).map(_.toFloat))
        .toMap
      cents = cents.map { case (i, old) => (i, means.getOrElse(i, old)) }
    }
    assign(cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .join(centDf(cents).select(col("cell"), col("cemb").as("centroid")),
            Seq("cell"), "right")
      .select(col("cell"), col("centroid"),
              coalesce(col("n_members"), lit(0L)).as("n_members"))
  }

  /** THE nearest-centroid assignment both kmeans entry points share
    * (fit-time and score-time must agree by construction, not by
    * parallel maintenance): broadcast (cell, cemb, cnrm), max cosine
    * with centroid-index tiebreak, map-side `max_by` → one row per
    * vector. Zero-norm centroids are dropped UP FRONT: their cosine is
    * NaN, and NaN sorts ABOVE every double in Spark, so one degenerate
    * centroid would otherwise capture the entire corpus. */
  private def assignCells(
      e: DataFrame, cents: DataFrame, round4: Boolean): DataFrame = {
    val raw = dot("embedding", "cemb") / (col("nrm") * col("cnrm"))
    e.crossJoin(broadcast(cents.filter(col("cnrm") > 0)))
      .withColumn("ccos", if (round4) round(raw, 4) else raw)
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cell"), col("ccos"), col("embedding")),
                  struct(col("ccos"), (-col("cell")).as("n"))).as("b"))
      .select(col("vec_id"), col("b.cell").as("cell"),
              col("b.ccos").as("ccos"), col("b.embedding").as("embedding"))
  }

  /** Assign every vector to its nearest trained centroid (cosine,
    * centroid-index tiebreak): the scoring/ETL companion to
    * [[kmeansFit]], running the SAME [[assignCells]] the trainer uses.
    * `centroids` is (cell, centroid) as produced by kmeansFit.
    * Returns (vec_id, cell, cos round-4). */
  def kmeansAssign(
      df: DataFrame, id: Column, emb: Column,
      centroids: DataFrame): DataFrame = {
    val e = withNorm(df, id, emb)
      .filter(col("embedding").isNotNull && col("nrm") > 0)
    val c = centroids
      .select(col("cell"), col("centroid").as("cemb"))
      .withColumn("cnrm", sqrt(expr("dot_f32(cemb, cemb)")))
    assignCells(e, c, round4 = true)
      .select(col("vec_id"), col("cell"), col("ccos").as("cos"))
  }

  /** Two-stage prefix rerank (the Matryoshka/two-tier serving shape):
    * stage 1 ranks candidates by PREFIX cosine — only the first
    * `prefixDims` dims, i.e. the truncated embedding a memory-resident
    * coarse index would hold — and keeps the top `m` per query; stage 2
    * re-fetches the survivors' FULL vectors by id and reranks the
    * |Q|·m pairs by full-dim cosine to the final top `k`.
    *
    * Scale shape: the coarse scan touches prefixDims/dim of the vector
    * bytes (a 64→16 prefix is a 4× bandwidth cut on the only
    * corpus-sized pass); the rerank is survivor-sized — survivors
    * broadcast and the full-vector side is ONE id-equi-join scan, so
    * the expensive full-dim dot products run |Q|·m times, never |Q|·n.
    * Both stages rank on round-4 cosines with candidate-id tiebreaks
    * through the bounded-heap aggregate (no Window over pair sets).
    * Vectors whose prefix is all-zero have no defined coarse cosine
    * and sit out stage 1 (and therefore the result), like zero-norm
    * vectors in [[cosineTopK]].
    * Returns (q_id, cand_id, cos, rn) — cos is the FULL-dim cosine. */
  def prefixRerankTopK(
      df: DataFrame, id: Column, emb: Column, isQuery: Column,
      prefixDims: Int, m: Int, k: Int): DataFrame = {
    require(prefixDims >= 1, "prefixRerankTopK: prefixDims must be >= 1")
    require(m >= k, s"prefixRerankTopK: m ($m) must be >= k ($k) — " +
      "the rerank can only return candidates the coarse stage kept")
    val e = withNorm(df, id, emb, Seq("_isq" -> isQuery))
      .filter(col("embedding").isNotNull && col("nrm") > 0)
      .withColumn("pemb", slice(col("embedding"), 1, prefixDims))
      .withColumn("pnrm", sqrt(expr("dot_f32(pemb, pemb)")))
      .filter(col("pnrm") > 0)
      .localCheckpoint() // r12: coarse+rerank stages reuse it
    val q = e.filter(col("_isq"))
      .select(col("vec_id").as("q_id"), col("pemb").as("qpe"),
              col("pnrm").as("qpn"))
    val c = e.select(col("vec_id").as("cand_id"), col("pemb").as("cpe"),
                     col("pnrm").as("cpn"))
    val coarse = broadcast(q).join(c, col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
              round(dot("qpe", "cpe") / (col("qpn") * col("cpn")), 4)
                .as("cos"))
    val survivors = heapRankCos(coarse, m).select(col("q_id"), col("cand_id"))
    val fq = e.select(col("vec_id").as("_qid"), col("embedding").as("qe"),
                      col("nrm").as("qn"))
    val fc = e.select(col("vec_id").as("_cid"), col("embedding").as("ce"),
                      col("nrm").as("cn"))
    val rescored = broadcast(
        broadcast(survivors).join(fq, col("_qid") === col("q_id")))
      .join(fc, col("_cid") === col("cand_id"))
      .select(col("q_id"), col("cand_id"),
              round(dot("qe", "ce") / (col("qn") * col("cn")), 4).as("cos"))
    heapRankCos(rescored, k)
  }

  /** Per-label centroid coherence — the mislabeled-data detector: each
    * label's centroid is the exact INTEGER sum of its members'
    * 1e-6-quantized components (cosine is scale-invariant, so the sum
    * vector IS the mean direction and no division ever happens), then
    * every vector scores its cosine to its own label's centroid. Low
    * coherence = the vector disagrees with its label's mass.
    *
    * Determinism: component sums are exact longs (order-independent
    * hash-agg); the only double math is the per-vector fixed-order
    * dot/norm fold, identical on both engines; per-label averages run
    * through intRatio4 on round-4 integer units. Scale shape: ONE
    * posexplode pass (n·d rows, map-side partial sums) builds
    * |labels|·d centroid components which broadcast back; everything
    * else is map-side per-vector work + one |labels|-sized agg.
    * Returns (label, n_vecs, avg_coh, min_coh, worst_id). */
  def labelCoherence(
      df: DataFrame, id: Column, emb: Column, label: Column): DataFrame = {
    val e = withNorm(df, id, emb, Seq("_lbl" -> label))
      .filter(col("embedding").isNotNull && col("nrm") > 0)
    val cents = e
      .select(col("_lbl"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("_lbl"), col("pos"))
      .agg(sum(round(col("x").cast("double") * 1000000).cast("long")).as("cs"))
      .groupBy(col("_lbl"))
      .agg(sort_array(collect_list(struct(col("pos"), col("cs")))).as("v"))
      .select(col("_lbl").as("_clbl"), col("v.cs").as("cvec"))
    val scored = e.join(broadcast(cents), col("_lbl") === col("_clbl"))
      .withColumn("cdot", expr(
        """aggregate(zip_with(embedding, cvec,
          |            (x, c) -> CAST(x AS DOUBLE) * c),
          |          CAST(0.0 AS DOUBLE), (a, y) -> a + y)""".stripMargin))
      .withColumn("cnrm", sqrt(expr(
        """aggregate(cvec, CAST(0.0 AS DOUBLE),
          |          (a, c) -> a + CAST(c AS DOUBLE) * c)""".stripMargin)))
      .withColumn("coh_e4",
        round(col("cdot") / (col("nrm") * col("cnrm")) * 10000)
          .cast("long"))
    scored.groupBy(col("_lbl"))
      .agg(count(lit(1)).as("n_vecs"),
           sum(col("coh_e4")).as("_se4"),
           min(struct(col("coh_e4").as("c"), col("vec_id").as("i")))
             .as("_w"))
      .select(col("_lbl").as("label"), col("n_vecs"),
              graft.Determinism.intRatio4(col("_se4"), col("n_vecs"))
                .as("avg_coh"),
              (col("_w.c") / 10000.0).as("min_coh"),
              col("_w.i").as("worst_id"))
  }

  /** SRP-LSH embedding near-duplicate pairs: `bits`-bit sign bucket
    * prunes ~2^bits×, exact cosine ≥ minCos confirms within buckets.
    * Returns (a_id, b_id, cos) with a_id < b_id. */
  /** Sign-bucket width that keeps EXPECTED SRP bucket occupancy near
    * `targetBucket` as the collection grows:
    * bits = clamp(⌈log₂(n / targetBucket)⌉, minBits, 30).
    *
    * WHY this must scale with n: with FIXED bits the sign-bucket
    * candidate join generates ~n²/2^bits pairs — quadratic in n. The
    * r5 sf10 sweep measured it: the bits=8 declared threshold sweep
    * grew 233× in wall time at 100× data (BENCH_SF10 notes, SCALE.md).
    * Re-sizing bits per decade keeps expected candidates ≈
    * n·targetBucket/2 — linear. The trade: more bits lower
    * single-table recall; production recovers it with multiprobe
    * ([[lshTopKMultiProbe]]'s flip-1-bit expansion) or a second hash
    * table — the standard LSH tuning. The DECLARED queries keep their
    * frozen bits so the oracle contract stays byte-stable; operators
    * composing this API at scale pass `bits = bitsFor(n)`. */
  def bitsFor(n: Long, targetBucket: Int = 64, minBits: Int = 8): Int = {
    require(n >= 0 && targetBucket >= 1 && minBits >= 1 && minBits <= 30)
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0))
      .toInt
    math.min(30, math.max(minBits, needed))
  }

  def embeddingNearDupPairs(
      df: DataFrame, id: Column, emb: Column,
      bits: Int = 16, minCos: Double = 0.9): DataFrame = {
    val e = withNorm(df, id, emb)
      .filter(col("embedding").isNotNull && col("nrm") > 0)
      .withColumn("bucket", signBits(col("embedding"), bits))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
                     col("bucket"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
                     col("bucket").as("bucket2"), col("nrm").as("nb"))
    a.join(b, col("bucket") === col("bucket2") && col("a_id") < col("b_id"))
      .withColumn("cos", round(dot("ea", "eb") / (col("na") * col("nb")), 4))
      .filter(col("cos") >= minCos)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Exact quantized Gram matrix of the first `dims` embedding
    * dimensions: G[i][j] = Σ_rows q_i·q_j with q = round(x·10⁶) — the
    * second-moment matrix PCA/whitening starts from. Integer-exact and
    * partition-order independent (products ≤ ~10¹³ per row accumulate
    * in DECIMAL(38,0)), so the result is a pure function of the input
    * set on any cluster size. Plan shape: ONE map-side pass computing
    * all dims·(dims+1)/2 partial sums (no explode — the d² blow-up
    * stays inside a single projection), a single-row final aggregate,
    * then a constant-size stack to (i, j, gram) rows with gram scaled
    * back to value units (÷10¹²). At 100 TB this shuffles exactly
    * d(d+1)/2 decimals per map partition and nothing else. */
  def gramMatrix(df: DataFrame, emb: Column, dims: Int): DataFrame = {
    require(dims >= 1 && dims <= 64,
      s"gramMatrix: dims must be in [1, 64], got $dims")
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(emb.isNotNull && size(emb) >= dims)
      .select((0 until dims).map(i =>
        round(element_at(emb, i + 1).cast("double") * 1000000)
          .cast("long").as(s"q$i")): _*)
    val pairs = for { i <- 0 until dims; j <- i until dims } yield (i, j)
    val aggs = pairs.map { case (i, j) =>
      sum((col(s"q$i") * col(s"q$j")).cast(D38)).as(s"g_${i}_${j}") }
    val row = base.agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs.map { case (i, j) =>
      s"$i, $j, CAST(g_${i}_$j AS DOUBLE) / 1e12" }.mkString(", ")
    row.selectExpr(s"stack(${pairs.size}, $stackArgs) AS (i, j, gram)")
  }

  /** Mean pairwise inner product per group in ONE corpus pass via the
    * sum-vector identity: Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖². On unit-norm
    * embeddings this IS mean pairwise cosine — the corpus/class
    * diversity-vs-collapse gauge (1 ≈ duplicates, ≈0 ≈ spread) that a
    * naive implementation computes with an O(n²) self-join. Components
    * quantize to the 1e-6 grid (the [[gramMatrix]] device) so every
    * accumulation is an exact DECIMAL(38,0) sum — order-independent,
    * engine-portable; the single division at the end is the only
    * double. Returns (group, n, mean_pair_cos4) for groups with n ≥ 2.
    * Scale: dims per-group sums ride one map-side projection (no
    * explode); the shuffle is |groups|·(dims+2) decimals, nothing
    * else — identical cost at 500 or 500M vectors per group. */
  def pairwiseDiversity(
      df: DataFrame, emb: Column, grp: Column, dims: Int): DataFrame = {
    require(dims >= 1 && dims <= 64,
      s"pairwiseDiversity: dims must be in [1, 64], got $dims")
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(emb.isNotNull && size(emb) >= dims)
      .select(grp.as("_g") +: (0 until dims).map(i =>
        round(element_at(emb, i + 1).cast("double") * 1000000)
          .cast("long").as(s"q$i")): _*)
      .withColumn("s2", expr(
        (0 until dims).map(i => s"q$i * q$i").mkString(" + ")))
    val aggs =
      sum(col("s2").cast(D38)).as("ss") +:
      (0 until dims).map(i => sum(col(s"q$i").cast(D38)).as(s"t$i"))
    base.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), aggs: _*)
      .filter(col("n") >= 2)
      .withColumn("sumsq", expr(
        (0 until dims).map(i => s"t$i * t$i").mkString(" + ")))
      .select(col("_g"), col("n"),
              round((col("sumsq") - col("ss")).cast("double") /
                    (col("n") * (col("n") - 1)).cast("double") /
                    1e12, 4).as("mean_pair_cos4"))
  }

  /** Reciprocal-rank fusion of ranked retrieval lists — the standard
    * way to combine a lexical (BM25) and a semantic (dense-vector)
    * ranking without score calibration. Each input frame carries
    * (_id, rank) with rank ≥ 1; score(id) = Σ_lists ⌊10⁶/(k0+rank)⌋,
    * kept in INTEGERS (the float 1/(k0+r) sums would be partition-
    * order sensitive in the tail digits) so fused ranks are exact and
    * engine-portable. Returns the top `k` ids by (score desc, id).
    * Scale shape: inputs are already top-k lists (tiny); the fusion is
    * a union + one hash-agg + TakeOrderedAndProject — never touches
    * the corpora the rankings came from. */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int, k: Int): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking")
    require(k0 >= 1 && k >= 1, s"rrfFuse: k0/k must be >= 1, got $k0/$k")
    rankings
      .map(_.select(col("_id"),
        expr(s"1000000 div ($k0 + rank)").as("_c")))
      .reduce(_ unionByName _)
      .groupBy(col("_id"))
      .agg(sum(col("_c")).as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("_id"))
      .limit(k)
  }

  /** Simplified (centroid-based) silhouette of a clustering, per cell:
    * over exact integer SQUARED L2 distances on the 1e-4 grid
    * (grid64 + the codegen'd l2sq_i64, as in the PQ family), each
    * vector's a² = distance to its nearest centroid, b² = to the
    * runner-up; s = (b²−a²)/b² ∈ [0,1] as a half-up scale-4 integer
    * (b² ≥ a² by construction of the assignment, so no negative
    * branch; b² = 0 — all coincident — scores 0). Returns
    * (cell, n, avg_sil4): the per-cluster cohesion report a kmeansFit
    * deployment gates on. Scale shape: centroids broadcast; ONE
    * corpus-sized cross-score pass with an 8-struct sorted
    * collect_list per vector (|centroids| is small by contract);
    * everything after is cell-sized. */
  def silhouette(
      df: DataFrame, id: Column, emb: Column,
      centroids: DataFrame): DataFrame = {
    graft.functions.L2SqI64.register(df.sparkSession)
    val e = df.filter(emb.isNotNull)
      .select(id.as("vec_id"), grid64(emb).as("q64"))
    val c = centroids.select(col("cell"), grid64(col("centroid")).as("c64"))
    val arr = e.crossJoin(broadcast(c))
      .select(col("vec_id"), struct(d2("q64", "c64").as("d"),
                                    col("cell")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(col("dc"))).as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("vec_id"), col("a")(0)("cell").as("cell"),
              col("a")(0)("d").as("a2"), col("a")(1)("d").as("b2"))
    import org.apache.spark.sql.GraftBridge
    def halfUp(num: Column, den: Column): Column = GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftBridge.expression(num * 2 + den),
        GraftBridge.expression(den * 2)))
    arr
      .withColumn("s_e4",
        when(col("b2") > 0,
             halfUp((col("b2") - col("a2")) * 10000L, col("b2")))
          .otherwise(lit(0L)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
           graft.Determinism.intRatio4(sum(col("s_e4")), count(lit(1)))
             .as("avg_sil4"))
  }

  /** Dominant eigenvector of a (small, collected) symmetric d×d matrix
    * by fixed-count power iteration — the 1-component PCA direction of
    * the cloud whose Gram [[gramMatrix]] computed. The DISTRIBUTED work
    * is the one corpus pass in gramMatrix; this solve touches d²
    * doubles on the driver, which no corpus scale changes (d is the
    * embedding width, ≤ a few thousand). Deterministic: fixed start
    * vector (1/√d, …), fixed iteration count, sign pinned so the
    * largest-|component| coordinate is positive. */
  def pca1(gram: Array[Array[Double]], iters: Int = 50): Array[Double] = {
    val d = gram.length
    require(d >= 1 && gram.forall(_.length == d),
      "pca1: gram must be square and non-empty")
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => gram(i)(j) * v(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      if (n == 0.0) return v // degenerate (zero matrix): keep start
      v = w.map(_ / n)
      it += 1
    }
    val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(pivot) < 0) v.map(-_) else v
  }
}
