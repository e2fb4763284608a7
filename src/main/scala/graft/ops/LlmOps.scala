package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Determinism._
import graft.io.Tables

/** SURVEY §2.6 (LLM-pipeline half) — the training-data-pipeline operators
  * the north star asks for: exact + near dedup, similarity search, text
  * analysis. All pure DataFrame ops (codegen'd; distributed by key).
  *
  * Scale notes (100 TB):
  *  - exact dedup = hash-aggregate on the dedup key: one shuffle, map-side
  *    partial agg, no collect. The groupBy/min formulation (vs
  *    dropDuplicates) is also deterministic — dropDuplicates keeps an
  *    arbitrary row.
  *  - MinHash: per-(doc, band) signatures are computed with one explode +
  *    hash-agg (linear, no cross join); candidate pairs come from a
  *    self-join on the (k, min-hash) bucket — exactly LSH banding. At
  *    cluster scale the bucket join is an equi-join (shuffle on bucket
  *    hash), never an O(n²) comparison; hot buckets (boilerplate shingles)
  *    would be salted or capped.
  *  - cosine top-k: brute-force is a broadcast of the (small) query set
  *    against the full collection — linear scans, fused dot product via
  *    array fold, no posexplode shuffle of the 64× element rows. The IVF
  *    route for huge collections lives in LshSimSpec/plans notes.
  *  - the md5(shingle + '#' + k) trick replaces per-engine 64-bit hash
  *    functions with a hex string both engines agree on byte-for-byte —
  *    portability over speed; a 100 TB deployment would swap in xxhash64
  *    (Spark-side only) once the oracle is retired.
  */
object LlmOps extends OpGroup {

  private val K = 16 // minhash signature length

  /** Fixed per-sfDir signature-store path with a ONE-TIME recursive
    * shutdown-hook cleanup: overwrite-to-same-path bounds disk across
    * verify/bench reps (File.deleteOnExit can't remove non-empty
    * parquet dirs, hence the hook; registered once per distinct path). */
  private val sigStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[ops] def sigStorePath(sfDir: String): String = {
    val p = new java.io.File(
      sys.props("java.io.tmpdir"),
      "graft_sigstore_" + Integer.toHexString(sfDir.hashCode)).toString
    if (sigStores.add(p)) Runtime.getRuntime.addShutdownHook(new Thread {
      override def run(): Unit = {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(new java.io.File(p))
      }
    })
    p
  }

  /** MinHash/LSH near-dup candidate pairs (doc_a < doc_b, n_match) —
    * shared by q_dedup_near_minhash and q_dedup_cluster; delegates to
    * the public parameterized API (graft.api.Dedup.minhashPairs). Shape
    * notes inline at the q_dedup_near_minhash entry. */
  private[ops] def minhashPairs(s: org.apache.spark.sql.SparkSession,
                                d: String): DataFrame =
    graft.api.Dedup.minhashPairs(
      Tables.documents(s, d), col("doc_id"), col("text"),
      shingle = 3, minMatch = K / 2)

  /** The matching DuckDB WITH-clauses producing `pairs(doc_a, doc_b,
    * n_match)` — embedded by the oracle strings. `capFilter` mirrors
    * Dedup.minhashPairs' maxShingleDocFreq (drop shingles with
    * df > cap before they touch signatures). */
  /** The signature CTEs alone (tok..sig) — shared by the self-join
    * pairs oracle and the cross-corpus incremental oracle, so the
    * signature math cannot drift between them (it is ONE definition,
    * exactly like Dedup.minhashSignatures on the Spark side). */
  private def minhashSigSqlWith(capFilter: String): String =
    s"""tok AS (
      |  SELECT doc_id, ${toksSql("text")} AS w FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    concat(w[i+1], ' ', w[i+2], ' ', w[i+3]) AS s
      |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS i
      |        FROM tok WHERE len(w) >= 3)),
      |sh AS (SELECT doc_id, s FROM sh0 $capFilter),
      |hj AS (
      |  SELECT doc_id, j,
      |    md5(concat(s, '#', CAST(j AS VARCHAR))) AS h
      |  FROM (SELECT doc_id, s, unnest(range(0, 4)) AS j FROM sh)),
      |sig AS (
      |  SELECT doc_id, j * 4 + i AS k,
      |    MIN(substr(h, i * 8 + 1, 8)) AS mh
      |  FROM (SELECT doc_id, j, h, unnest(range(0, 4)) AS i FROM hj)
      |  GROUP BY doc_id, j * 4 + i)""".stripMargin

  private def minhashPairsSqlWith(capFilter: String): String =
    s"""${minhashSigSqlWith(capFilter)},
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_match
      |  FROM sig a JOIN sig b
      |    ON a.k = b.k AND a.mh = b.mh AND a.doc_id < b.doc_id
      |  GROUP BY doc_a, doc_b
      |  HAVING COUNT(*) >= ${K / 2})""".stripMargin

  private[ops] val minhashPairsSql: String = minhashPairsSqlWith("")

  /** THE connected-components CTE over `pairs` — ONE definition shared
    * by every CC-consuming oracle (cluster, canonical, cluster_sizes,
    * pr_report, lang_purity, soft_weights, leakage_safe, funnel) so
    * the component walk cannot drift between twins.
    *
    * r9 rewrite: the old `WITH RECURSIVE walk` transitive closure kept
    * every (doc, seen-root) pair as working state — at sf10 (500k
    * docs) DuckDB spilled it without bound (r8 measured >70 GB on
    * lang_purity; r9's per-query harness spill-killed funnel at 35 GB).
    * This is the same defect class the Spark side never had (its CC is
    * iterative min-label propagation with |V| state per round), so the
    * twin now mirrors that shape in plain bounded CTEs: `rounds`
    * alternating hop (take the min label over neighbors) and pointer-
    * jump (take your label's label) steps — radius at least doubles
    * per round, so 12 rounds cover any component diameter to ~4k hops
    * with per-step state of exactly |V| rows. Labels are monotone
    * non-increasing and the component-minimum node keeps its own id,
    * so at convergence every component carries its min doc id — the
    * identical `comp(doc, root)` contract as the recursive walk.
    * Convergence is PROVEN in-query, not assumed: if any edge still
    * joins two labels after the last round, `error(...)` fails the
    * oracle loudly (bounded + loud, never silently wrong). */
  private[ops] val ccCompSql: String = {
    // AS MATERIALIZED on every round is load-bearing: each step
    // references its predecessor TWICE, so an inlining planner would
    // expand the chain to 2^(2*rounds) scans of the base tables (the
    // first run died binding "too many open files"); materialization
    // pins the plan to `rounds` linear passes of |V| rows.
    val rounds = 12
    val steps = (1 to rounds).map { k =>
      s"""h$k AS MATERIALIZED (
         |  SELECT d.doc,
         |    LEAST(d.root, COALESCE(MIN(n.root), d.root)) AS root
         |  FROM l${k - 1} d
         |  LEFT JOIN edges e ON e.doc_a = d.doc
         |  LEFT JOIN l${k - 1} n ON n.doc = e.doc_b
         |  GROUP BY d.doc, d.root),
         |l$k AS MATERIALIZED (
         |  SELECT a.doc, LEAST(a.root, COALESCE(b.root, a.root)) AS root
         |  FROM h$k a LEFT JOIN h$k b ON b.doc = a.root)""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT doc_a AS doc, doc_a AS root FROM edges),
       |$steps,
       |unconv AS (
       |  SELECT COUNT(*) AS bad FROM edges e
       |  JOIN l$rounds a ON a.doc = e.doc_a
       |  JOIN l$rounds b ON b.doc = e.doc_b
       |  WHERE a.root <> b.root),
       |comp AS (
       |  SELECT doc, root FROM l$rounds
       |  WHERE (SELECT bad FROM unconv) = 0
       |     OR error('cc label propagation not converged in $rounds rounds'))""".stripMargin
  }

  /** Capped variant: shingles present in more than 5 docs are dropped
    * before hashing — mirrors maxShingleDocFreq = Some(5). */
  private[ops] val minhashPairsCappedSql: String = minhashPairsSqlWith(
    "WHERE s NOT IN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > 5)")

  def qs: Seq[Q] = Seq(
    Q(
      "q_dedup_exact",
      (s, d) => graft.api.Dedup.exactGroups(
          Tables.events(s, d),
          keys = Seq(col("user_id"), col("event_type")),
          id = col("event_id"))
        .orderBy(col("user_id"), col("event_type")),
      """SELECT user_id, event_type, MIN(event_id) AS keep_id,
        |  COUNT(*) AS n_dups
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),

    Q(
      // near-duplicate candidate pairs via MinHash/LSH: K=16 hash slots,
      // hash_k(shingle) = md5(shingle || '#' || k); docs agreeing on >= 8
      // of 16 slot-minima are emitted with their agreement count.
      // Shape chosen by measurement (see SCALE.md): shingle dedup runs
      // map-side per doc (array_distinct — no shuffle); the plan is
      // RELATIONAL (explode + hash-agg with partial min; nested array
      // lambdas measured 8× slower — interpreted); K=16 32-bit slots from
      // FOUR md5s per shingle (128-bit hash sliced into 8-hex windows);
      // explode_outer + null filter prevents InferFiltersFromGenerate
      // from inlining the shingle expr into the scan filter 3×; the
      // 4 window-minima aggregate per (doc, j) BEFORE stack() fans out
      // slot rows (hash-agg consumes 4× fewer rows).
      "q_dedup_near_minhash",
      (s, d) => minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
      s"""WITH $minhashPairsSql
        |SELECT doc_a, doc_b, n_match FROM pairs
        |ORDER BY doc_a, doc_b""".stripMargin),

    Q(
      // incremental (batch-vs-corpus) near-dedup: the held-out source
      // plays the incoming ingest batch, everything else the standing
      // corpus. Signatures are computed PER SIDE through the public
      // persistable seam (Dedup.minhashSignatures — at 100 TB the
      // corpus's are computed once, stored bucketed by (k, mh), and a
      // daily batch only ever does batch-sized work), then matched on
      // the (k, mh) bucket key (Dedup.minhashMatches) — corpus×corpus
      // pairs are never generated. Same signature math as
      // q_dedup_near_minhash on both engines (shared Spark seam,
      // shared oracle CTEs).
      "q_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sigBatch = graft.api.Dedup.minhashSignatures(
          docs.filter(col("source") === "src0"), col("doc_id"), col("text"))
        val sigCorpus = graft.api.Dedup.minhashSignatures(
          docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
        graft.api.Dedup.minhashMatches(sigBatch, sigCorpus, minMatch = K / 2)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      s"""WITH ${minhashSigSqlWith("")}
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) AS n_match
        |FROM sig a, sig b, documents da, documents db
        |WHERE a.k = b.k AND a.mh = b.mh
        |  AND da.doc_id = a.doc_id AND db.doc_id = b.doc_id
        |  AND da.source = 'src0' AND db.source <> 'src0'
        |GROUP BY doc_a, doc_b HAVING COUNT(*) >= ${K / 2}
        |ORDER BY doc_a, doc_b""".stripMargin),

    Q(
      // minhash with the hot-shingle cap engaged: trigrams in more than
      // 5 docs (29 such boilerplate shingles at sf0.01) leave the index
      // via a BROADCAST anti-join before hashing — the 1000× escape
      // hatch for header/footer/license text, which otherwise makes LSH
      // buckets pathologically hot AND minhash-collides unrelated docs.
      // True duplicate pairs share their unique content, so they
      // survive the cap (ApiSpec proves the collapse on a planted
      // boilerplate corpus; this query oracle-checks the capped
      // pipeline end-to-end).
      "q_dedup_minhash_capped",
      (s, d) => graft.api.Dedup.minhashPairs(
          Tables.documents(s, d), col("doc_id"), col("text"),
          shingle = 3, minMatch = K / 2, maxShingleDocFreq = Some(5))
        .orderBy(col("doc_a"), col("doc_b")),
      s"""WITH $minhashPairsCappedSql
        |SELECT doc_a, doc_b, n_match FROM pairs
        |ORDER BY doc_a, doc_b""".stripMargin),

    Q(
      // dedup clustering: connected components over the near-dup pair
      // graph — the canonical-document step a real dedup pipeline ends
      // with. Spark side: min-label propagation iterated to FIXPOINT
      // (driver-coordinated loop, the Pregel pattern — each iteration is
      // one distributed join+agg; lineage truncated per step via
      // localCheckpoint). Oracle: recursive CTE transitive closure.
      // Both compute exact connected components, so results agree by
      // definition; cluster id = min doc_id in the component.
      "q_dedup_cluster",
      (s, d) => {
        val labels = graft.api.Dedup.connectedComponents(
          minhashPairs(s, d), "doc_a", "doc_b")
        labels.groupBy(col("root"))
          .agg(count(lit(1)).as("cluster_size"),
               // R5: serialize member list to a CSV string — array cells
               // crash the driver comparator (CORRECTNESS_r01 `err`)
               concat_ws(",", sort_array(collect_list(col("doc"))))
                 .as("members"))
          .orderBy(col("root"))
      },
      s"""WITH RECURSIVE $minhashPairsSql,
        |$ccCompSql
        |SELECT root, COUNT(*) AS cluster_size,
        |  array_to_string(list_sort(list(doc)), ',') AS members
        |FROM comp GROUP BY root ORDER BY root""".stripMargin),

    Q(
      // Dedup AUDIT report: the cluster-size histogram (how much of the
      // corpus is duplicated, and how deeply) including the singleton
      // mass — size 1 = docs in NO near-dup pair, counted by anti-join
      // so the report always covers the whole corpus. The one-page
      // number a dedup run is judged by (size-k clusters shed k−1 docs
      // each).
      "q_dedup_cluster_sizes",
      (s, d) => {
        val labels = graft.api.Dedup.connectedComponents(
          minhashPairs(s, d), "doc_a", "doc_b")
        val hist = labels.groupBy(col("root"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        val singles = Tables.documents(s, d)
          .join(labels, col("doc_id") === col("doc"), "left_anti")
          .agg(count(lit(1)).as("n_clusters"))
          .select(lit(1L).as("sz"), col("n_clusters"))
        singles.unionByName(hist).orderBy(col("sz"))
      },
      s"""WITH RECURSIVE $minhashPairsSql,
        |$ccCompSql,
        |szs AS (SELECT root, COUNT(*) AS sz FROM comp GROUP BY root),
        |h AS (SELECT CAST(sz AS BIGINT) AS sz,
        |        CAST(COUNT(*) AS BIGINT) AS n_clusters
        |      FROM szs GROUP BY sz),
        |s1 AS (SELECT CAST(1 AS BIGINT) AS sz,
        |        (SELECT COUNT(*) FROM documents)
        |          - (SELECT COUNT(*) FROM comp) AS n_clusters)
        |SELECT sz, n_clusters FROM s1
        |UNION ALL SELECT sz, n_clusters FROM h
        |ORDER BY sz""".stripMargin),

    Q(
      // Dedup from the PERSISTED signature seam, end-to-end under the
      // hash gate: compute Dedup.minhashSignatures ONCE, write them to
      // a parquet signature store partitioned by slot k (the
      // materialized-seam layout — at 100 TB the corpus's signatures
      // are computed once and every later dedup/audit pass starts from
      // the store instead of re-shingling 100 TB of text), read the
      // store back, then candidate pairs + connected components run
      // purely from STORED signatures (minhashPairsFromSignatures —
      // the same join minhashPairs delegates to, so ad-hoc and stored
      // runs cannot drift). Oracle = the ad-hoc pair/CC CTEs: the gate
      // proves store-roundtrip dedup ≡ recompute dedup exactly.
      "q_dedup_from_signatures",
      (s, d) => {
        // fixed per-sfDir location, mode=overwrite: every rep rewrites
        // the SAME store (the write+readback IS the measured seam) but
        // disk stays bounded across verify/bench reps, and a one-time
        // shutdown hook removes it — a fresh createTempDirectory per
        // construction leaked one full signature copy per rep
        val store = LlmOps.sigStorePath(d)
        graft.api.Dedup.minhashSignatures(
            Tables.documents(s, d), col("doc_id"), col("text"))
          .write.mode("overwrite").partitionBy("k").parquet(store)
        val stored = s.read.parquet(store)
        val pairs = graft.api.Dedup.minhashPairsFromSignatures(
          stored, minMatch = K / 2)
        graft.api.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
          .groupBy(col("root"))
          .agg(count(lit(1)).as("cluster_size"),
               concat_ws(",", sort_array(collect_list(col("doc"))))
                 .as("members"))
          .orderBy(col("root"))
      },
      s"""WITH RECURSIVE $minhashPairsSql,
        |$ccCompSql
        |SELECT root, COUNT(*) AS cluster_size,
        |  array_to_string(list_sort(list(doc)), ',') AS members
        |FROM comp GROUP BY root ORDER BY root""".stripMargin),

    Q(
      // Near-dup cluster LANGUAGE PURITY — the dedup-QA gate: a
      // cluster whose members span several languages is usually not
      // duplication but a shingle-collision artifact (or
      // cross-lingual templating worth a human look), and silently
      // collapsing it to one canonical would DELETE non-duplicate
      // text. Reports, over multi-doc minhash clusters: total, how
      // many are language-pure, the mixed share, and the worst
      // offender (most langs; ties by root ASC — rank-deterministic).
      // Scale shape: CC labels join docs' lang by doc key, two
      // cluster-sized hash-aggs — the audit adds nothing corpus-wide
      // beyond the dedup pass it audits.
      "q_dedup_lang_purity",
      (s, d) => {
        val labels = graft.api.Dedup.connectedComponents(
          minhashPairs(s, d), "doc_a", "doc_b")
        val cl = labels
          .join(Tables.documents(s, d).select(col("doc_id"),
                                              col("lang")),
                col("doc") === col("doc_id"))
          .groupBy(col("root"))
          .agg(count(lit(1)).as("sz"),
               countDistinct(col("lang")).as("nl"))
        // worst offender = max(struct(nl, -root)): same (nl DESC,
        // root ASC) rank-1 row as a window would pick, but as a
        // plain hash-agg max — no single-partition sort over the
        // cluster frame (which grows with the corpus), no crossJoin
        cl.agg(count(lit(1)).as("n_clusters"),
               sum(when(col("nl") === 1, 1L).otherwise(0L))
                 .as("n_pure"),
               max(struct(col("nl"), (-col("root")).as("nr")))
                 .as("_w"))
          // degenerate-corpus edge: with zero clusters the global agg
          // still emits one row (null worst, 0/0 share) while the
          // oracle's CROSS JOIN against an empty `worst` CTE yields
          // none — match it by dropping the row when no cluster exists
          .filter(col("n_clusters") > 0)
          .withColumn("_wr", -col("_w.nr"))
          .withColumn("_wl", col("_w.nl"))
          .select(col("n_clusters"), col("n_pure"),
                  (col("n_clusters") - col("n_pure")).as("n_mixed"),
                  intRatio4((col("n_clusters") - col("n_pure")) *
                              10000L, col("n_clusters"))
                    .as("mixed_share4"),
                  col("_wr").as("worst_root"),
                  col("_wl").as("worst_n_langs"))
      },
      s"""WITH RECURSIVE $minhashPairsSql,
        |$ccCompSql,
        |cl AS (
        |  SELECT c.root, COUNT(*) AS sz,
        |    COUNT(DISTINCT d.lang) AS nl
        |  FROM comp c JOIN documents d ON c.doc = d.doc_id
        |  GROUP BY c.root),
        |worst AS (
        |  SELECT root AS wr, nl AS wl FROM (
        |    SELECT root, nl,
        |      row_number() OVER (ORDER BY nl DESC, root) AS rk
        |    FROM cl) WHERE rk = 1),
        |g AS (
        |  SELECT COUNT(*) AS n_clusters,
        |    CAST(SUM(CASE WHEN nl = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pure
        |  FROM cl)
        |SELECT n_clusters, n_pure,
        |  n_clusters - n_pure AS n_mixed,
        |  CAST((2 * ((n_clusters - n_pure) * 10000) + n_clusters)
        |       // (2 * n_clusters) AS DOUBLE) / 10000.0
        |    AS mixed_share4,
        |  worst.wr AS worst_root, worst.wl AS worst_n_langs
        |FROM g CROSS JOIN worst""".stripMargin),

    Q(
      // THE end-to-end dedup pipeline as ONE declared query: near-dup
      // pairs (minhash) → connected components → canonical-doc election
      // per cluster (most tokens wins, ties to the smaller id) —
      // including singletons, so the output is the full doc→canonical
      // dedup map a training pipeline actually materializes. Election
      // is a lexicographic struct max inside the same hash-agg that
      // sizes the cluster (max(n_tok, −id) — the negation turns the
      // tie rule into plain max), never a per-cluster sort.
      "q_dedup_canonical",
      (s, d) => {
        val q = Tables.documents(s, d)
          .select(col("doc_id"),
                  size(graft.api.Dedup.tokens(col("text")))
                    .cast("long").as("n_tok"))
        val labels = graft.api.Dedup.connectedComponents(
          minhashPairs(s, d), "doc_a", "doc_b")
        q.join(labels, q("doc_id") === labels("doc"), "left")
          .select(col("doc_id"),
                  coalesce(col("root"), col("doc_id")).as("root"),
                  col("n_tok"))
          .groupBy(col("root"))
          .agg(count(lit(1)).as("cluster_size"),
               max(struct(col("n_tok").as("q"),
                          (-col("doc_id")).as("ni"))).as("_b"))
          .select(col("root"), col("cluster_size"),
                  (-col("_b.ni")).as("canon_id"),
                  col("_b.q").as("canon_tok"))
          .orderBy(col("root"))
      },
      s"""WITH RECURSIVE $minhashPairsSql,
        |$ccCompSql,
        |q AS (
        |  SELECT doc_id, len(${toksSql("text")}) AS n_tok
        |  FROM documents),
        |m AS (
        |  SELECT q.doc_id, COALESCE(c.root, q.doc_id) AS root, q.n_tok
        |  FROM q LEFT JOIN comp c ON c.doc = q.doc_id)
        |SELECT root, COUNT(*) AS cluster_size,
        |  CAST(-(max(struct_pack(q := n_tok, ni := -doc_id))).ni
        |    AS BIGINT) AS canon_id,
        |  CAST((max(struct_pack(q := n_tok, ni := -doc_id))).q
        |    AS BIGINT) AS canon_tok
        |FROM m GROUP BY root ORDER BY root""".stripMargin),

    Q(
      // SOFT dedup: instead of dropping near-duplicates, each doc gets
      // weight 1/cluster_size (in exact 1e-4 integer units via integral
      // division — no float sums anywhere), so a training mixture can
      // downweight duplicated content without losing coverage — the
      // "one vote per cluster" reweighting. Per lang: raw docs,
      // distinct clusters represented, and the effective (weighted)
      // doc mass. Scale shape: CC labels ⟕ corpus, ONE root-keyed
      // hash-agg for sizes, one shuffle join back on root (sizes frame
      // is cluster-count-sized), then a |langs|-row rollup.
      "q_dedup_soft_weights",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val labels = graft.api.Dedup.connectedComponents(
          minhashPairs(s, d), "doc_a", "doc_b")
        val rooted = docs.join(labels, docs("doc_id") === labels("doc"),
                               "left")
          .select(col("lang"), col("doc_id"),
                  coalesce(col("root"), col("doc_id")).as("root"))
        // r12 (guide §2.3): collapse the corpus to (root, lang) counts
        // FIRST — the old form joined the cluster sizes back onto the
        // corpus-sized rooted frame (a second full-corpus shuffle) to
        // sum a weight that is constant within (root, lang). Σ_docs
        // w4 = Σ_(root,lang) cnt·w4 exactly, n_docs = Σ cnt, and the
        // distinct-root count is unchanged, so the per-lang rollup is
        // value-identical while only group-sized rows shuffle after
        // the first agg. The (root,lang) frame is materialized once
        // (it feeds the sizes agg AND the join back).
        val g = rooted.groupBy(col("root"), col("lang"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val sizes = g.groupBy(col("root"))
          .agg(sum(col("cnt")).as("csz"))
        g.join(sizes, "root")
          .withColumn("w4",
            col("cnt") * expr("CAST(10000 div csz AS BIGINT)"))
          .groupBy(col("lang"))
          .agg(sum(col("cnt")).as("n_docs"),
               countDistinct(col("root")).as("n_clusters"),
               (sum(col("w4")) / 10000.0).as("eff_docs"))
          .orderBy(col("lang"))
      },
      s"""WITH RECURSIVE $minhashPairsSql,
        |$ccCompSql,
        |rooted AS (
        |  SELECT d.lang, d.doc_id, COALESCE(c.root, d.doc_id) AS root
        |  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
        |sz AS (SELECT root, COUNT(*) AS csz FROM rooted GROUP BY root),
        |w AS (
        |  SELECT r.lang, r.root, 10000 // s.csz AS w4
        |  FROM rooted r JOIN sz s ON s.root = r.root)
        |SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT root) AS n_clusters,
        |  CAST(SUM(w4) AS BIGINT) / 10000.0 AS eff_docs
        |FROM w GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // brute-force cosine top-3 for query vectors (vec_id < 10) against
      // the whole collection. Query side is tiny -> broadcast; dot product
      // and norms are sequential double folds over the float arrays
      // (exact widen), ranked after round(…,4) so both engines rank
      // identical numbers (tiebreak: cand_id).
      "q_sim_cosine_topk",
      (s, d) => graft.api.Sim.cosineTopK(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 10, k = 3)
        .orderBy(col("q_id"), col("rn")),
      """WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |            i -> CAST(q.embedding[i] AS DOUBLE)
        |               * CAST(c.embedding[i] AS DOUBLE)))
        |          / (q.nrm * c.nrm), 4) + 0 AS cos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT q_id, cand_id, cos,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos DESC, cand_id ASC) AS rn
        |  FROM scored)
        |SELECT q_id, cand_id, cos, rn FROM ranked WHERE rn <= 3
        |ORDER BY q_id, rn""".stripMargin),

    Q(
      // Cosine RADIUS search (api.Sim.cosineRadius): everything within
      // cos ≥ 0.25 of each query — the threshold sibling of top-k
      // ("everything this similar" vs "the k most similar"), the
      // recall floor for dedup sweeps. The threshold tests the
      // R3-rounded 1e-4 score so boundary candidates never flap;
      // queries broadcast against ONE candidate scan (no heap — the
      // output is data-dependent, which is the point of a radius).
      "q_sim_radius",
      (s, d) => graft.api.Sim.cosineRadius(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          isQuery = col("vec_id") < 5, minCos = 0.25)
        .orderBy(col("q_id"), col("cand_id")),
      """WITH e0 AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |e AS (SELECT * FROM e0 WHERE nrm > 0),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |            i -> CAST(q.embedding[i] AS DOUBLE)
        |               * CAST(c.embedding[i] AS DOUBLE)))
        |          / (q.nrm * c.nrm), 4) + 0 AS cos
        |  FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id)
        |SELECT q_id, cand_id, cos FROM scored
        |WHERE cos >= 0.25 ORDER BY q_id, cand_id""".stripMargin),

    Q(
      "q_text_stats",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"), col("n_chars"),
                size(split(col("text"), " ")).as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"),
             avg4(sum(col("n_chars")), count(lit(1))).as("avg_chars"),
             sum(col("n_tokens")).as("sum_tokens"),
             min(col("n_tokens")).cast("bigint").as("min_tokens"),
             max(col("n_tokens")).cast("bigint").as("max_tokens"))
        .orderBy(col("lang")),
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) + 0 AS avg_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  MIN(len(string_split(text, ' '))) AS min_tokens,
        |  MAX(len(string_split(text, ' '))) AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // top-5 terms per language by frequency (tokenize -> explode ->
      // count -> windowed rank; term asc tiebreak). The classic "what's
      // in my corpus" reduction: one explode + one hash-agg + one
      // small-per-group sort.
      "q_text_topterms",
      (s, d) => {
        val terms = Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n").desc, col("term").asc)
        terms.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .orderBy(col("lang"), col("rn"))
      },
      """WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (SELECT lang, term, COUNT(*) AS n FROM t GROUP BY lang, term),
        |r AS (SELECT lang, term, n,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY n DESC, term ASC) AS rn
        |      FROM c)
        |SELECT lang, term, n, rn FROM r WHERE rn <= 5
        |ORDER BY lang, rn""".stripMargin),

    Q(
      "q_text_search",
      (s, d) => Tables.documents(s, d)
        .filter(col("text").contains("spark") && !col("text").contains("slow"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang")),
      """SELECT lang, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM documents
        |WHERE text LIKE '%spark%' AND text NOT LIKE '%slow%'
        |GROUP BY lang ORDER BY lang""".stripMargin),

    Q(
      // multimodal manifest on a BINARY column — the oracle-gated twin
      // of the ⊘ graft.multimodal suite: docs ride as opaque UTF-8
      // blobs (exactly how image/audio payloads ride at 100 TB), and
      // the per-source manifest — blob count, total bytes, DISTINCT
      // payload digests, duplicate-blob count — is the report every
      // blob-lake ingest runs first. Proves binary payloads are
      // ordinary relational data here: exact binary dedup is just a
      // distinct-count on md5(blob), one hash-agg, and the blob bytes
      // themselves never shuffle (only 16-byte digests do).
      "q_multimodal_manifest",
      (s, d) => Tables.documents(s, d)
        .select(col("source"), col("text").cast("binary").as("blob"))
        .select(col("source"), col("blob"),
                length(col("blob")).cast("long").as("nbytes"),
                md5(col("blob")).as("digest"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_blobs"),
             sum(col("nbytes")).as("total_bytes"),
             countDistinct(col("digest")).as("n_distinct_blobs"),
             min(col("digest")).as("min_digest"))
        .withColumn("n_dup_blobs",
                    col("n_blobs") - col("n_distinct_blobs"))
        .orderBy(col("source")),
      """WITH b AS (
        |  SELECT source, encode(text) AS blob, md5(text) AS digest
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_blobs,
        |  CAST(SUM(octet_length(blob)) AS BIGINT) AS total_bytes,
        |  COUNT(DISTINCT digest) AS n_distinct_blobs,
        |  MIN(digest) AS min_digest,
        |  COUNT(*) - COUNT(DISTINCT digest) AS n_dup_blobs
        |FROM b GROUP BY source ORDER BY source""".stripMargin),

    Q(
      // REAL image codec under the hash gate: per doc, encode a
      // deterministic grayscale test-card PNG (pixel(x,y) =
      // (doc_id*31 + 7x + 13y) mod 256, dims from doc_id) through the
      // JDK ImageIO PNG ENCODER, decode it back through the ImageIO
      // READER (graft.multimodal.MediaCodec.decodeImage), and report
      // the reader-sniffed format, true raster dims, and the EXACT
      // decoded gray-pixel sum. The DuckDB oracle recomputes dims and
      // pixel sums from the closed-form generator alone — it never
      // sees the bytes — so a broken or fake codec (wrong dims, lossy
      // round-trip, header-only "decode") hash-mismatches. This is
      // the oracle-gated twin of the ⊘ multimodal pipeline suite.
      // Scale shape: codec runs inside the scan stage's mapPartitions
      // (per-blob CPU, no shuffle — only 5 small decoded columns reach
      // the exchange); one source×format hash-agg; output is
      // source-sized.
      "q_multimodal_decode",
      (s, d) => {
        import s.implicits._
        val decoded = Tables.documents(s, d)
          .select(col("doc_id"), col("source")).as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, src) =>
              val w = 16 + (id % 17).toInt
              val h = 12 + (id % 11).toInt
              val png = graft.multimodal.MediaCodec.encodeTestCardPng(id, w, h)
              val dec = graft.multimodal.MediaCodec.decodeImage(png)
                .getOrElse(graft.multimodal.DecodedImage("none", -1, -1, -1L))
              (src, dec.format, dec.width.toLong, dec.height.toLong,
                dec.graySum)
            }
          }.toDF("source", "fmt", "w", "h", "gsum")
        decoded.groupBy(col("source"), col("fmt"))
          .agg(count(lit(1)).as("n_imgs"),
               sum(col("w")).as("sum_w"),
               sum(col("h")).as("sum_h"),
               sum(col("gsum")).as("sum_gray"))
          .orderBy(col("source"), col("fmt"))
      },
      """WITH p AS (
        |  SELECT doc_id, source,
        |    16 + doc_id % 17 AS w, 12 + doc_id % 11 AS h
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, source, w, h, unnest(range(0, w)) AS x FROM p),
        |e2 AS (
        |  SELECT doc_id, source, w, h, x, unnest(range(0, h)) AS y
        |  FROM e),
        |g AS (
        |  SELECT doc_id, source, w, h,
        |    CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT)
        |      AS gsum
        |  FROM e2 GROUP BY doc_id, source, w, h)
        |SELECT source, 'png' AS fmt, COUNT(*) AS n_imgs,
        |  CAST(SUM(w) AS BIGINT) AS sum_w,
        |  CAST(SUM(h) AS BIGINT) AS sum_h,
        |  CAST(SUM(gsum) AS BIGINT) AS sum_gray
        |FROM g GROUP BY source ORDER BY source, fmt""".stripMargin)
  )
}
