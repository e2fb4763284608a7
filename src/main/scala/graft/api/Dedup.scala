package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, parameterized deduplication API — the reusable forms of the
  * `q_dedup_*` operators (which delegate here, so the DuckDB oracle
  * gate verifies this code). Every operator is bucketed/pruned: nothing
  * is ever O(n²) in the corpus size.
  *
  * Portability note: hashing is md5-derived so an external engine can
  * reproduce results byte-for-byte; the production 100 TB swap is the
  * WIRED `fastHash = true` flag on the minhash and simhash families
  * (codegen'd xxhash64, same plan shapes and slot/banding contracts —
  * measured 3.5×/2.5×/1.6×, see SCALE.md), kept off
  * in every declared query only because cross-engine oracle
  * verification needs the portable hash.
  */
object Dedup {

  /** Exact dedup groups on arbitrary keys: one hash-aggregate (map-side
    * partials), deterministic keep-min representative — unlike
    * `dropDuplicates`, which keeps an arbitrary row. */
  def exactGroups(df: DataFrame, keys: Seq[Column], id: Column): DataFrame =
    df.groupBy(keys: _*)
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Blocked edit-distance near-duplicate pairs — the classic record-
    * linkage shape (the q_fn_levenshtein SURVEY row's "100 TB use"):
    * candidates come from an equi-join on a caller-chosen BLOCKING key
    * (first token, soundex, length bucket, …), then `levenshtein ≤
    * maxDist` confirms INSIDE the join stage, before any pair leaves
    * it. Same prune-then-confirm shape as LSH-bucket + cosine. Recall
    * is bounded by the blocking key: pairs in different blocks are
    * never compared — that is the scale contract, choose the key
    * accordingly. Returns (a_id, b_id, dist) with a_id < b_id. */
  def editDistPairs(
      df: DataFrame, id: Column, text: Column, blockKey: Column,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, "editDistPairs: maxDist must be >= 0")
    val e = df.select(id.as("_id"), text.as("_t"), blockKey.as("_blk"))
    val a = e.select(col("_id").as("a_id"), col("_t").as("_ta"),
                     col("_blk"))
    val b = e.select(col("_id").as("b_id"), col("_t").as("_tb"),
                     col("_blk").as("_blk2"))
    a.join(b, col("_blk") === col("_blk2") && col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("_ta"), col("_tb")))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** CDC/SCD compaction: keep the LATEST full row per business key.
    * One hash-aggregate with map-side partials — `max_by` of the whole
    * row over a version struct — instead of the window-rank idiom,
    * which would sort every key group. `version` must total-order rows
    * within a key (append a unique id as the final tiebreak column);
    * with ties, "latest" would be partition-order dependent, which
    * this engine refuses to ship. Returns rows with `df`'s columns. */
  def keepLatest(
      df: DataFrame, keys: Seq[Column], version: Seq[Column]): DataFrame = {
    require(version.nonEmpty, "keepLatest: version columns required")
    val payload = struct(df.columns.map(col).toSeq: _*)
    df.groupBy(keys: _*)
      .agg(max_by(payload, struct(version: _*)).as("_latest"))
      .select(col("_latest.*"))
  }

  /** CDC APPLY: merge a changelog (upserts + delete tombstones) into a
    * base snapshot — the MERGE INTO every warehouse table needs,
    * expressed as union + ONE keepLatest hash-agg + filter instead of
    * a join: base rows carry an implicit upsert, the newest version
    * per key wins regardless of which side it came from, and a key
    * whose newest version is a tombstone leaves the snapshot entirely.
    * Same single-shuffle shape as keepLatest (a full-outer merge join
    * would shuffle BOTH sides AND need null-side case logic).
    * `isDelete` is evaluated on `changes` rows; schemas must match.
    * A NULL `isDelete` is an UPSERT, not a tombstone (coalesce to
    * false): the unguarded form let a NULL flag on the winning change
    * row slip through `filter(!del)` and silently DROP the key —
    * an unknown flag must never destroy data (ADVICE r3). */
  def applyChanges(
      base: DataFrame, changes: DataFrame,
      keys: Seq[Column], version: Seq[Column],
      isDelete: Column): DataFrame = {
    require(base.columns.toSeq == changes.columns.toSeq,
      "applyChanges: base and changes schemas must match " +
      s"(${base.columns.mkString(",")} vs ${changes.columns.mkString(",")})")
    require(!base.columns.contains("__graft_del"),
      "applyChanges reserves __graft_del")
    val u = base.withColumn("__graft_del", lit(false))
      .unionByName(changes.withColumn(
        "__graft_del", coalesce(isDelete, lit(false))))
    keepLatest(u, keys, version)
      .filter(!col("__graft_del"))
      .drop("__graft_del")
  }

  /** THE tokenizer for the n-gram/shingle family (minhash, jaccard,
    * contamination, simhash, word_ngrams): whitespace-robust — any run
    * of ASCII whitespace is ONE separator and never yields empty
    * tokens. The character class is spelled out (= Java regex `\s`)
    * instead of `\s` itself because DuckDB's RE2 `\s` omits `\x0B`;
    * the oracle twin (`ops.toksSql`) uses the same explicit class, so
    * both engines tokenize byte-identically on ANY input, not just the
    * single-spaced fixture corpus. */
  private[graft] def tokens(text: Column): Column =
    filter(split(text, "[ \\t\\n\\r\\f\\x0B]+"), w => w =!= lit(""))

  /** Word n-gram shingle array (distinct, map-side) of a text column —
    * the ONE definition of "shared n-gram" for minhash, jaccard, and
    * contamination (a drift here would make dedup and decontamination
    * disagree). Operates on a `w` token array produced by [[tokens]]
    * (the one tokenizer, shared with the word_ngrams generator);
    * callers must pair it with the explode_outer + null filter
    * generator discipline (SCALE.md pathology #1). */
  private[graft] def shingleExpr(n: Int): String = {
    val parts = (0 until n).map(j => s"w[i+$j]").mkString(", ")
    s"array_distinct(transform(sequence(0, size(w) - $n), i -> " +
      s"concat_ws(' ', $parts)))"
  }

  /** Drop shingles whose document frequency exceeds the cap from an
    * exploded (doc, shingle) frame: one hash-agg builds the hot set,
    * which BROADCASTS into a left-anti join, so the corpus-sized side
    * is never reshuffled. Both caps absent returns the input untouched
    * (byte-identical plan).
    *
    * Broadcast-safety bound: with the FRACTION cap, |hot| ≤
    * shinglesPerDoc / frac — corpus-INDEPENDENT, always broadcastable.
    * With only the ABSOLUTE cap, |hot| ≤ totalShingleRows / cap, which
    * GROWS with the corpus for a fixed cap — callers must scale cap
    * with corpus size (cap ≈ frac·N), or prefer `capFrac`; at 1000×
    * with a fixture-sized absolute cap the hot set itself would be
    * huge and the broadcast would be the failure point. `nDocs` is a
    * one-row count frame, evaluated only on the frac path. */
  private def capHotShingles(
      exploded: DataFrame, s: Column,
      cap: Option[Int], capFrac: Option[Double],
      nDocs: => DataFrame): DataFrame =
    if (cap.isEmpty && capFrac.isEmpty) exploded
    else {
      cap.foreach(c => require(c >= 1, "maxShingleDocFreq must be >= 1"))
      capFrac.foreach(f => require(f > 0 && f <= 1,
        "maxShingleDocFrac must be in (0, 1]"))
      val dfreq = exploded.groupBy(s.as("_hot_s"))
        .agg(count(lit(1)).as("_df"))
      val hot = capFrac match {
        case None => dfreq.filter(col("_df") > cap.get)
        case Some(f) =>
          val bar = col("_n_docs") * f
          dfreq.crossJoin(broadcast(nDocs))
            .filter(col("_df") >
              cap.map(c => greatest(lit(c.toDouble), bar)).getOrElse(bar))
      }
      exploded.join(broadcast(hot.select(col("_hot_s"))),
                    s === col("_hot_s"), "left_anti")
    }

  /** MinHash/LSH near-duplicate candidate pairs: 16 hash slots (four
    * md5s per shingle, sliced into 8-hex windows), pairs agreeing on at
    * least `minMatch` slot-minima are emitted as
    * (doc_a, doc_b, n_match) with doc_a < doc_b.
    *
    * Plan shape (measured, SCALE.md): shingling is map-side
    * (`array_distinct` per row); signatures come from ONE explode +
    * hash-agg with partial min (nested array lambdas measured 8×
    * slower — interpreted, not codegen'd); explode_outer + null filter
    * keeps InferFiltersFromGenerate from inlining the shingle
    * expression into the scan filter 3× (measured 10×); the four
    * window-minima aggregate per (doc, j) BEFORE stack() fans out slot
    * rows; candidates come from an equi-join on (slot, min) buckets —
    * LSH banding, never an all-pairs comparison.
    *
    * `maxShingleDocFreq`: the boilerplate escape hatch at 1000× scale —
    * drop shingles appearing in more than N docs BEFORE they influence
    * signatures (headers/footers/license text otherwise minhash-collide
    * unrelated docs AND make their buckets pathologically hot). The hot
    * set broadcasts into a left-anti join — no extra shuffle of the
    * corpus. `maxShingleDocFrac` is the same cap as a corpus FRACTION
    * (df > N·frac): the form whose hot-set size is bounded
    * independently of corpus size (see capHotShingles) — prefer it at
    * scale; when both are set the higher bar wins.
    * Default None/None keeps the exact r2 plan and results. */
  def minhashPairs(
      df: DataFrame, id: Column, text: Column,
      shingle: Int = 3, minMatch: Int = 8,
      maxShingleDocFreq: Option[Int] = None,
      maxShingleDocFrac: Option[Double] = None,
      fastHash: Boolean = false): DataFrame = {
    // r12 (guide §3.3): the self-join below consumes the signature
    // frame TWICE, and Spark plans each side as an independent copy of
    // the whole shingle→md5→min pipeline — two full corpus passes at
    // any scale. Materialize the signatures ONCE per invocation; both
    // self-join sides then read the same in-memory RDD. (A
    // pre-repartition/sort on the bucket key was tried and dropped:
    // a checkpointed RDD scans back as UnknownPartitioning, so it
    // bought nothing — the exchanges stay, only the duplicate compute
    // goes.) localCheckpoint (not persist) on purpose: it never
    // registers with the CacheManager, so a re-invocation (bench rep,
    // verify rep) always recomputes from parquet — this is the
    // in-query seam materialization the signature STORE performs
    // durably in q_dedup_from_signatures, never a cross-run cache.
    // The blocks are executor-local; a caller that needs the
    // signatures to survive executor loss persists them through the
    // signature store instead (see the README's executor-loss note).
    val sig = minhashSignatures(df, id, text, shingle,
                                maxShingleDocFreq, maxShingleDocFrac,
                                fastHash)
    minhashPairsFromSignatures(sig.localCheckpoint(), minMatch)
  }

  /** Self-match candidate pairs from an EXISTING signature frame —
    * freshly computed or read back from a persisted signature store
    * (the materialized seam: compute [[minhashSignatures]] once, write
    * them keyed by (k, mh), and every later dedup/CC/audit pass starts
    * HERE instead of re-shingling the corpus). [[minhashPairs]]
    * delegates to this, so stored-seam runs and ad-hoc runs are the
    * same join by construction. */
  def minhashPairsFromSignatures(
      sig: DataFrame, minMatch: Int = 8): DataFrame = {
    val a = sig.select(col("doc_id").as("doc_a"), col("k"), col("mh"))
    val b = sig.select(col("doc_id").as("doc_b"),
                       col("k").as("k2"), col("mh").as("mh2"))
    a.join(b, col("k") === col("k2") && col("mh") === col("mh2") &&
              col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") >= minMatch)
  }

  /** The 16-slot MinHash signature of [[minhashPairs]] as a standalone,
    * PERSISTABLE frame: (doc_id, k, mh) with k ∈ [0, 16) and mh the
    * slot minimum. This is the incremental-dedup seam: at 100 TB the
    * corpus's signatures are computed ONCE, written bucketed by
    * (k, mh), and every ingest batch only computes ITS OWN signatures
    * (batch-sized work) before matching — see [[minhashMatches]].
    * Identical math to the self-join path (minhashPairs delegates
    * here), so persisted signatures and ad-hoc runs can never drift. */
  def minhashSignatures(
      df: DataFrame, id: Column, text: Column,
      shingle: Int = 3,
      maxShingleDocFreq: Option[Int] = None,
      maxShingleDocFrac: Option[Double] = None,
      fastHash: Boolean = false): DataFrame = {
    val exploded = df
      .select(id.as("doc_id"), tokens(text).as("w"))
      .filter(size(col("w")) >= shingle)
      .select(col("doc_id"),
              explode_outer(expr(shingleExpr(shingle))).as("s"))
      .filter(col("s").isNotNull)
    val capped = capHotShingles(exploded, col("s"),
        maxShingleDocFreq, maxShingleDocFrac,
        df.select(count(lit(1)).as("_n_docs")))
    val (hs, mins) = if (!fastHash)
      // r12 note: converting the slot minima to LONGs via
      // min(conv(w, 16, 10) cast long) was tried (to turn the
      // SortAggregate into a HashAggregate — fixed-width lowercase hex
      // orders identically to its numeric value, so results are
      // unchanged) and MEASURED SLOWER at sf0.1 (near_minhash
      // 2.6 → 3.3 s A/B): conv() emits a decimal STRING that the cast
      // re-parses, so every row paid 4 double string-parses — more
      // than the SortAggregate's 8-char string min ever cost. The
      // md5-free production path is fastHash below (native long
      // hashes, HashAggregate by construction); the portable md5 path
      // keeps the string minima deliberately.
      {
        // r13 (guide §2.3): the four salted digests used to FAN OUT
        // through an explode(0..3) — 4× the rows through the (doc, j)
        // SortAggregate (min over strings cannot hash-agg). Computing
        // them as four COLUMNS and taking all 16 window minima in ONE
        // doc-keyed aggregate feeds the sort a quarter of the rows and
        // drops the generator. Same md5 inputs (s + "#" + j), same
        // substrings, same k = j·4 + w slot mapping — every minimum,
        // and therefore every signature, is bit-identical.
        val hs = (0 to 3).map(j =>
          md5(concat(col("s"), lit(s"#$j"))).as(s"_h$j"))
        (hs, for { j <- 0 to 3; w <- 0 to 3 } yield
          min(substring(col(s"_h$j"), 1 + 8 * w, 8)).as(s"m${j * 4 + w}"))
      }
    else
      // PRODUCTION slot hash: one codegen'd xxhash64 per (shingle,
      // salt) split into its two 32-bit windows — same 16 slots, same
      // banding join, same recall math (identical docs get identical
      // signatures under ANY hash; window independence is what the
      // md5 slices relied on too). Signatures are (k, mh BIGINT) vs
      // md5's (k, mh hex-string) — one corpus, one hasher: never mix
      // frames from the two paths in minhashMatches. NOT cross-engine
      // portable (xxhash64 differs per engine), which is the ONLY
      // reason the declared oracle queries stay on md5. Measured at
      // sf0.1: see SCALE.md.
      {
        // r13: same de-explode as the md5 path — 8 hash columns, 16
        // long minima in one doc-keyed HashAggregate (8× fewer rows
        // through the agg), identical (k, mh) values
        val hs = (0 to 7).map(j =>
          xxhash64(col("s"), lit(j)).as(s"_h$j"))
        (hs, for { j <- 0 to 7; w <- 0 to 1 } yield
          min(expr(if (w == 0) s"_h$j >> 32" else s"_h$j & 4294967295"))
            .as(s"m${j * 2 + w}"))
      }
    val stackArgs = (0 to 15).map(k => s"$k, m$k").mkString(", ")
    capped
      .select(col("doc_id") +: hs: _*)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), expr(s"stack(16, $stackArgs) AS (k, mh)"))
  }

  /** Cross-corpus MinHash matching: (doc_a from `sigA`, doc_b from
    * `sigB`, n_match) for pairs agreeing on ≥ `minMatch` of the 16
    * slots — both sides are [[minhashSignatures]] frames (either
    * freshly computed or read back from a signature store). The
    * incremental-ingest primitive: batch-vs-corpus matching joins
    * batch signatures (small) against corpus signatures on the
    * (k, mh) bucket key — corpus×corpus pairs are never generated,
    * and with the corpus side pre-bucketed by (k, mh) the big side
    * does not even shuffle. No doc_a < doc_b constraint: the sides
    * are distinct id spaces (callers dedup ids that appear in both). */
  def minhashMatches(
      sigA: DataFrame, sigB: DataFrame, minMatch: Int = 8): DataFrame = {
    val a = sigA.select(col("doc_id").as("doc_a"), col("k"), col("mh"))
    val b = sigB.select(col("doc_id").as("doc_b"),
                        col("k").as("k2"), col("mh").as("mh2"))
    a.join(b, col("k") === col("k2") && col("mh") === col("mh2"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") >= minMatch)
  }

  /** Connected components over an undirected edge list (a, b) →
    * (doc, root) with root = min member id. Pregel-style min-label
    * propagation to fixpoint.
    *
    * ONE Spark job per iteration: the label update materializes through
    * an eager checkpoint, and convergence is detected by an accumulator
    * bumped WHILE that job runs (a tiny nondeterministic UDF on the
    * changed-flag column) — there is no separate per-iteration count()
    * job, which at 100 TB halves both the job count and the scheduler
    * round-trips of the fixpoint loop. Task retries can only over-count
    * the accumulator, and only the zero/non-zero distinction is read,
    * so convergence is still exact.
    *
    *  - `shortcut = true` adds pointer-halving: each round also maps
    *    every label through the just-computed label table
    *    (root ← label(root)), turning O(diameter) rounds into
    *    O(log diameter) — worth its extra per-round join on
    *    long-chain graphs; near-dup graphs are shallow, so the
    *    default keeps the cheaper single-join round.
    *  - `reliable = true` swaps localCheckpoint (executor-storage
    *    lineage cut — an executor loss kills the job) for reliable
    *    checkpointing to `spark.sparkContext.setCheckpointDir` — the
    *    resilient choice for long fixpoints on real clusters. */
  def connectedComponents(
      pairs: DataFrame, a: String, b: String,
      shortcut: Boolean = false,
      reliable: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    if (reliable) require(
      spark.sparkContext.getCheckpointDir.isDefined,
      "connectedComponents(reliable = true) needs " +
      "spark.sparkContext.setCheckpointDir(...)")
    // reliable mode: MANUAL parquet checkpoints with ROLLING deletion —
    // Dataset.checkpoint never deletes its files (Spark cleans them only
    // on driver GC and only with cleaner.referenceTracking
    // .cleanCheckpoints=true, default false), so a long fixpoint would
    // retain one full labels copy PER ITERATION. A parquet roundtrip
    // cuts lineage just as hard and is equally executor-loss-proof, and
    // iteration i−1's table is deleted the moment iteration i is
    // written: at most the edge table plus two label tables ever exist
    // at once, and only the RESULT table survives the fixpoint (callers
    // reclaim it by removing the graft-cc-* subdir of the checkpoint
    // dir once they've consumed or re-materialized the labels).
    val ckRoot = if (reliable)
      spark.sparkContext.getCheckpointDir.get + "/graft-cc-" +
        java.util.UUID.randomUUID().toString
      else ""
    def rm(dir: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(dir)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
    def ckWrite(df: DataFrame, name: String): DataFrame = {
      df.write.mode("errorifexists").parquet(s"$ckRoot/$name")
      spark.read.parquet(s"$ckRoot/$name")
    }
    var iterN = 0
    var prevLabelDir = ""
    def ckpt(df: DataFrame): DataFrame =
      if (!reliable) df.localCheckpoint(eager = true)
      else {
        val name = s"iter-$iterN"; iterN += 1
        val out = ckWrite(df, name)
        if (prevLabelDir.nonEmpty) rm(prevLabelDir)
        prevLabelDir = s"$ckRoot/$name"
        out
      }
    def ckptEdges(df: DataFrame, name: String): DataFrame =
      if (reliable) ckWrite(df, name)
      else df.localCheckpoint(eager = true)
    val changedAcc = spark.sparkContext.longAccumulator("graft_cc_changed")
    // materialized as a column of the checkpointed frame, so it runs
    // exactly during the update job — never a second action
    val bump = udf { (changed: Boolean) =>
      if (changed) changedAcc.add(1L); changed
    }.asNondeterministic()

    // r12 (guide §2.4, the [[Graph.pageRank]] posture): the fixpoint
    // probes the edge table on doc_a EVERY round, so hash-partition
    // and sort it on doc_a ONCE and persist — the per-round
    // propagation join then neither re-exchanges nor re-sorts the
    // edge side (the bigger input: |E| ≥ |V|). persist (not
    // localCheckpoint) is what preserves the partitioning/ordering —
    // an InMemoryRelation keeps its child's outputPartitioning, while
    // a checkpointed RDD scans back as UnknownPartitioning (measured
    // this round, plans/r12). The pin is released in the finally
    // below, at fixpoint end inside THIS invocation — every
    // re-invocation recomputes from its inputs (never a cross-run
    // cache), exactly like Graph.pageRank/labelPropagation. The
    // checkpoint of `p` still cuts the (near-dup-pipeline-sized)
    // pairs lineage first, so the persisted union materializes from
    // the checkpointed pairs, not twice through the LSH join.
    // Partition count = spark.sql.shuffle.partitions (scale-adaptive,
    // explicit so AQE cannot coalesce the persisted side away from
    // its per-round join partners).
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = ckptEdges(
      pairs.select(col(a).as("doc_a"), col(b).as("doc_b")), "pairs")
    val edges = p.union(
        p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .repartition(nParts, col("doc_a"))
      .sortWithinPartitions(col("doc_a"))
      .persist()
    var labels = ckpt(edges.select(col("doc_a").as("doc")).distinct()
      .withColumn("root", col("doc")))
    var converged = false
    try { while (!converged) {
      changedAcc.reset()
      val prop = edges
        .join(labels, col("doc_a") === col("doc"))
        .groupBy(col("doc_b").as("doc2"))
        .agg(min(col("root")).as("nroot"))
      var upd = labels
        .join(prop, col("doc") === col("doc2"), "left")
        .select(col("doc"),
                least(col("root"), coalesce(col("nroot"), col("root")))
                  .as("root"),
                col("root").as("_old"))
      if (shortcut) {
        // pointer halving: roots are themselves doc ids, so one more
        // equi-join rewrites root ← label(root) (labels only decrease)
        val m = upd.select(col("doc").as("_rd"), col("root").as("_rr"))
        upd = upd.join(m, col("root") === col("_rd"), "left")
          .select(col("doc"),
                  least(col("root"), coalesce(col("_rr"), col("root")))
                    .as("root"),
                  col("_old"))
      }
      val next = ckpt(upd.select(col("doc"), col("root"),
        bump(col("root") < col("_old")).as("_chg")))
      converged = changedAcc.value == 0
      labels = next.select(col("doc"), col("root"))
    } } finally { edges.unpersist(); () }
    if (reliable) rm(s"$ckRoot/pairs")
    labels
  }

  /** Per-document SimHash signature as a `bits`-char '0'/'1' string
    * (bits ≤ 32): bit k = majority vote over the doc's distinct tokens
    * of parity(hex digit k of md5(token)). Embarrassingly parallel —
    * one array fold per row, no shuffle. */
  /** Shared per-bit majority votes for both SimHash entry points: one
    * row per (doc, distinct token), md5 once, then `bits` conditional
    * sums in ONE hash-agg — the relational explode+hash-agg shape,
    * whole-stage-codegen'd end to end. The previous form folded nested
    * `aggregate`/`zip_with` lambdas over a per-doc md5 array; Catalyst
    * runs higher-order functions INTERPRETED, and the same 8× penalty
    * measured on the minhash signatures (SCALE.md) applied here.
    * Parity test: hex digit k of md5(token) is odd ⇔ digit ∈
    * {1,3,5,7,9,b,d,f} — an IN over literals (codegen'd hash-set probe),
    * byte-equal to the oracle's `(instr(...) - 1) % 2 = 1` formula.
    * Token-less docs have no signature (the oracle's unnest drops them
    * before the signature CTE; an unfiltered Spark side would fabricate
    * an all-zero signature — review r4 full-repo pass): the explode of
    * an empty array emits no rows, so the hash-agg never sees them. */
  private def simhashVotes(
      df: DataFrame, id: Column, text: Column, bits: Int,
      fastHash: Boolean): DataFrame = {
    // fastHash: bit k of one codegen'd xxhash64(token) replaces the
    // parity of md5 hex digit k — same independent-fair-coin property
    // per bit, same votes shape, not cross-engine portable (the
    // minhash fastHash rationale; measured in SCALE.md)
    //
    // r13 (per-task work, guide §1.2 step 2): the md5 path used to
    // test each of the `bits` hex digits with
    // `substring(_h, k, 1) IN ('1','3',...,'f')` — 32 substring
    // allocations and up to 256 one-char string comparisons per
    // exploded token row, evaluated TWICE (partial + final agg). Now
    // the row's 32 digit parities are packed ONCE into a long:
    // translate() maps every hex char to its parity character ('0' or
    // '1' — md5() is lowercase by contract) and conv(·, 2, 10) parses
    // the resulting binary string (char k of the hex = char k of the
    // binary = bit 32−k of the value, so digit k's parity is
    // (mask >> (32−k)) & 1). Three string ops per row replace 32;
    // the per-bit work in the agg is a shift-and-compare on a long.
    // Parity equivalence: digit odd ⇔ digit ∈ {1,3,5,7,9,b,d,f} ⇔
    // translate maps it to '1' — byte-equal to the oracle's
    // `(instr('0123456789abcdef', d) - 1) % 2 = 1`.
    val votes = (1 to bits).map { k =>
      val bitSet =
        if (fastHash) expr(s"(_h >> ${k - 1}) & 1") === 1
        else expr(s"shiftright(_m, ${32 - k}) & 1") === 1
      sum(when(bitSet, 1).otherwise(-1)).as(s"_v$k")
    }
    val hashed = df.select(id.as("doc_id"), tokens(text).as("_w"))
      .select(col("doc_id"),
              explode(expr("array_distinct(_w)")).as("_t"))
    val keyed =
      if (fastHash) hashed.withColumn("_h", xxhash64(col("_t")))
      else hashed.withColumn("_m",
        conv(translate(md5(col("_t")),
               "0123456789abcdef", "0101010101010101"), 2, 10)
          .cast("long"))
    keyed.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
  }

  def simhashSignature(
      df: DataFrame, id: Column, text: Column, bits: Int = 32,
      fastHash: Boolean = false): DataFrame = {
    require(bits >= 1 && bits <= 32, "md5 provides 32 hex digits")
    simhashVotes(df, id, text, bits, fastHash)
      .select(col("doc_id"),
              concat((1 to bits).map(k =>
                when(col(s"_v$k") > 0, "1").otherwise("0")): _*).as("sig"))
  }

  /** Per-document 32-bit SimHash signature as a BIGINT (bit k set iff
    * the majority vote for hex digit k+1's parity is positive — same
    * votes as simhashSignature, packed). Integer-exact, one hash-agg. */
  def simhashSig32(df: DataFrame, id: Column, text: Column,
      fastHash: Boolean = false): DataFrame =
    simhashVotes(df, id, text, 32, fastHash)
      .select(col("doc_id"),
              (1 to 32).map(k =>
                when(col(s"_v$k") > 0, lit(1L << (k - 1)))
                  .otherwise(0L)).reduce(_ + _).as("sig"))

  /** 64-bit SimHash signature as a BIGINT — fastHash-only (64
    * independent bits need one xxhash64 per token; md5 provides only
    * 32 hex digits), so not cross-engine oracle-portable. The
    * corpus-scale signature: see [[simhashHammingPairs64]]. */
  def simhashSig64(df: DataFrame, id: Column, text: Column): DataFrame =
    simhashVotes(df, id, text, 64, fastHash = true)
      .select(col("doc_id"),
              (1 to 64).map(k =>
                when(col(s"_v$k") > 0, lit(1L << (k - 1)))
                  .otherwise(0L)).reduce(_ + _).as("sig"))

  /** SimHash near-duplicate pairs within `maxHamming` bit flips,
    * via BYTE BANDING (the pigeonhole trick): signatures within
    * Hamming ≤ 3 must agree on at least one of the four 8-bit bands,
    * so candidates come from an equi-join on (band index, band value) —
    * never an all-pairs scan — and `bit_count(a XOR b)` (codegen'd
    * integer built-in) confirms exactly. Returns
    * (doc_a, doc_b, hamming), doc_a < doc_b.
    *
    * SCALE NOTE (r5 sf10 sweep): the 32-bit signature's 8-bit bands
    * give only 256 band-bucket values, so the candidate join is
    * ~n²/2^8 per band — quadratic with a small denominator (measured
    * 189 s at 500k docs). At corpus scale use
    * [[simhashHammingPairs64]] (same guarantee, 2^16 buckets); this
    * 32-bit form is the md5-portable twin the declared oracle query
    * needs. */
  def simhashHammingPairs(
      df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, fastHash: Boolean = false): DataFrame = {
    require(maxHamming <= 3,
      "4-band pigeonhole only guarantees recall for maxHamming <= 3")
    // r12 (guide §3.3): both sides of the band self-join re-planned the
    // whole tokenize+md5+majority signature pipeline; materialize the
    // doc-sized signature frame once per invocation (localCheckpoint —
    // never CacheManager-registered, recomputed every invocation).
    val sig = simhashSig32(df, id, text, fastHash).localCheckpoint()
    val bands = sig.select(col("doc_id"), col("sig"),
        explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("bv", expr("(sig div shiftleft(1L, 8 * b)) % 256"))
    bandPairs(bands, maxHamming)
  }

  /** Corpus-scale SimHash Hamming pairs: the SAME 4-band pigeonhole
    * guarantee (any two signatures within Hamming ≤ 3 agree on at
    * least one band) over the 64-bit [[simhashSig64]] with 16-bit
    * bands — 2^16 band-bucket values vs the 32-bit form's 2^8, so the
    * candidate join stays ~n²/2^16 per band (256× fewer collisions;
    * the r5 sf10 measurement that motivated it is in SCALE.md).
    * fastHash-only, therefore test-tier (ApiSpec brute-force
    * equivalence), not oracle-declared. */
  def simhashHammingPairs64(
      df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4-band pigeonhole only guarantees recall for maxHamming <= 3")
    val sig = simhashSig64(df, id, text)
    val bands = sig.select(col("doc_id"), col("sig"),
        explode(expr("sequence(0, 3)")).as("b"))
      // arithmetic >> sign-extends for band 3 of a negative sig; the
      // & 65535 mask keeps exactly bits 16b..16b+15 either way
      .withColumn("bv", expr("(sig >> (16 * b)) & 65535"))
    bandPairs(bands, maxHamming)
  }

  /** Pairs (doc_a < doc_b) of `bands` rows (doc_id, sig, b, bv) that
    * share a band value, with their signatures' Hamming distance when
    * it is ≤ `maxHamming`. */
  private def bandPairs(bands: DataFrame, maxHamming: Int): DataFrame = {
    val a = bands.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
                         col("b"), col("bv"))
    val bb = bands.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
                          col("b").as("b2"), col("bv").as("bv2"))
    // confirm with bit_count IN THE JOIN STAGE, before the pair-dedup
    // groupBy: when band selectivity degrades (saturated signature
    // space), the candidate fan-out is large, and filtering map-side
    // means only true near-dup pairs ever shuffle (measured 2× at
    // sf0.1 vs grouping all candidates first)
    a.join(bb.hint("MERGE"),
           col("b") === col("b2") && col("bv") === col("bv2") &&
           col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** N-gram Jaccard near-duplicate pairs via the inverted-index join:
    * only docs sharing an n-gram ever meet. Returns
    * (doc_a, doc_b, inter, jac) for round(J, 4) ≥ minJaccard.
    * `|doc|` rides along as a column so no separate sizes table is
    * joined (the naive formulation planned 7 exchanges); the MERGE hint
    * stops AQE from broadcasting a multi-million-row self-join side
    * (measured 5×). n is the selectivity dial — small vocabularies need
    * wider shingles (see q_dedup_ngram_jaccard notes).
    *
    * `maxShingleDocFreq` drops boilerplate shingles (df > N) before the
    * candidate join — the hot-bucket escape hatch (see minhashPairs).
    * Capped shingles leave the shingle SETS too (|doc| and J are
    * computed over the capped space — the standard semantics: J over
    * uncapped sets would report near-1 similarity for docs sharing only
    * boilerplate, exactly what the cap exists to kill). The capped path
    * recounts |doc| with one window over the filtered index; the
    * default path keeps |doc| riding map-side (byte-identical r2 plan). */
  def jaccardPairs(
      df: DataFrame, id: Column, text: Column,
      n: Int = 7, minJaccard: Double = 0.2,
      maxShingleDocFreq: Option[Int] = None,
      maxShingleDocFrac: Option[Double] = None): DataFrame = {
    shingleIntersections(df, id, text, n,
        maxShingleDocFreq, maxShingleDocFrac)
      // boundary-exact score (Determinism.intRatio4): round(a/b, 4) on
      // an integer ratio is the cross-engine x.xxxx5 pathology — and a
      // boundary hit here would flap the ROW SET via the threshold
      .withColumn("jac", graft.Determinism.intRatio4(
        col("inter") * 10000,
        col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jac"))
  }

  /** The shared inverted-index intersection frame under jaccardPairs
    * and containmentPairs — (doc_a, doc_b, inter, sz_a, sz_b), doc_a <
    * doc_b, docs sharing ≥1 n-gram only. ONE definition so the pair
    * family can't drift (the scoring seam is the ONLY difference
    * between the two operators): map-side shingling, MERGE-hinted
    * self-join (AQE would broadcast the "small" half of a self-join),
    * count aggregate. Caps, when set, drop hot shingles before the
    * candidate join and recount |doc| over the filtered index. */
  private def shingleIntersections(
      df: DataFrame, id: Column, text: Column, n: Int,
      maxShingleDocFreq: Option[Int],
      maxShingleDocFrac: Option[Double]): DataFrame = {
    val sh =
      if (maxShingleDocFreq.isEmpty && maxShingleDocFrac.isEmpty)
        df.select(id.as("doc_id"), tokens(text).as("w"))
          .filter(size(col("w")) >= n)
          .withColumn("gs", expr(shingleExpr(n)))
          .select(col("doc_id"), size(col("gs")).as("sz"),
                  explode_outer(col("gs")).as("g"))
          .filter(col("g").isNotNull)
      else {
        val exploded = df
          .select(id.as("doc_id"), tokens(text).as("w"))
          .filter(size(col("w")) >= n)
          .select(col("doc_id"),
                  explode_outer(expr(shingleExpr(n))).as("g"))
          .filter(col("g").isNotNull)
        capHotShingles(exploded, col("g"),
            maxShingleDocFreq, maxShingleDocFrac,
            df.select(count(lit(1)).as("_n_docs")))
          .withColumn("sz", count(lit(1)).over(
            Window.partitionBy(col("doc_id"))))
      }
    // r12 (guide §3.3): both self-join sides re-planned the whole
    // tokenize+shingle+explode pipeline; materialize the inverted
    // index once per invocation (localCheckpoint — recomputed from
    // parquet on every invocation, never CacheManager-cached).
    val shC = sh.localCheckpoint()
    val a = shC.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
                       col("g"))
    val b = shC.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
                       col("g").as("g2"))
    a.join(b.hint("MERGE"),
           col("g") === col("g2") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"),
           max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
  }

  /** ASYMMETRIC n-gram containment pairs: score = |A∩B| / min(|A|,|B|)
    * — how much of the SMALLER document's shingle set appears in the
    * larger one. This is the quote/sub-document detector Jaccard
    * structurally misses: a 50-shingle doc fully embedded in a
    * 5000-shingle doc scores C=1.0 but J≈0.01, so no practical Jaccard
    * threshold finds it without drowning in noise.
    *
    * Same scale shape as jaccardPairs (one inverted-index equi-join on
    * the shingle, count-aggregate, never all-pairs); the pair row also
    * says WHICH side is contained so the dedup policy can keep the
    * superset doc. */
  def containmentPairs(
      df: DataFrame, id: Column, text: Column,
      n: Int = 7, minContainment: Double = 0.5): DataFrame = {
    shingleIntersections(df, id, text, n, None, None)
      // boundary-exact, same reasoning as jaccardPairs' score
      .withColumn("cont", graft.Determinism.intRatio4(
        col("inter") * 10000, least(col("sz_a"), col("sz_b"))))
      .filter(col("cont") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("cont"),
              // the contained (subset) side; ties -> the earlier id,
              // deterministic because doc_a < doc_b
              when(col("sz_a") <= col("sz_b"), col("doc_a"))
                .otherwise(col("doc_b")).as("contained_doc"))
  }

  /** ExactSubstr-style cross-document repeated-SPAN detector (the
    * public algorithm of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022, re-expressed
    * relationally): a token position is COVERED when the n-gram
    * starting there also occurs in at least one OTHER document, and
    * maximal runs of covered positions coalesce into spans — a run of
    * r consecutive covered starts is a shared substring of r+n−1
    * tokens. Returns (doc, span_start, span_end, n_tokens) with
    * 0-based n-gram start positions. Pair ops (minhashPairs et al.)
    * say WHICH docs overlap; this says WHERE, which is what a
    * span-removal pass actually consumes.
    *
    * Scale shape: tokenize once; posexplode to (doc, pos, gram); the
    * shared set is ONE hash-agg keyed by gram (count-distinct-docs ≥
    * 2 — gram-sized keys, never doc pairs); covered positions LEFT
    * SEMI against it; islands = the gaps-and-islands window per doc
    * (pos − row_number). No self-join ever forms, nothing is O(n²) in
    * corpus size, and the window partitions by doc (bounded by doc
    * length). A suffix-array engine finds character-exact spans; the
    * n-gram grid is the standard relational approximation — spans
    * snap to token boundaries, minimum detectable length n tokens.
    * The gram strings themselves shuffle twice (agg + semi join); the
    * 100 TB swap is hashing grams to xxhash64 before the exchange
    * (documented, not default: the md5-free string key is what the
    * cross-engine oracle can replay). */
  def sharedNgramSpans(
      df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    require(n >= 1, "sharedNgramSpans: n must be >= 1")
    val sh = ngramGrid(df, id, text, n)
      // r12 (guide §3.3): feeds the shared-gram agg AND the semi-join
      // probe — materialize the gram grid once per invocation
      .localCheckpoint()
    val cov = sharedOnly(sh)
    val w = Window.partitionBy(col("__doc")).orderBy(col("pos"))
    cov.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("__doc"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
           max(col("pos")).as("span_end"))
      .select(col("__doc").as("doc"), col("span_start"),
              col("span_end"),
              (col("span_end") - col("span_start") + n).as("n_tokens"))
  }

  /** Every word n-gram of each doc with ≥ n tokens: (__doc, pos, g),
    * `g` the n-gram starting at token `pos`, space-joined. */
  private def ngramGrid(df: DataFrame, id: Column, text: Column,
                        n: Int): DataFrame = {
    val toks = df.select(id.as("__doc"), tokens(text).as("w"))
      .filter(size(col("w")) >= n)
    val parts = (0 until n).map(j => s"w[p+$j]").mkString(", ")
    toks.select(
      col("__doc"),
      posexplode(expr(
        s"transform(sequence(0, size(w) - $n), p -> " +
          s"concat_ws(' ', $parts))")).as(Seq("pos", "g")))
  }

  /** The rows of an [[ngramGrid]] whose n-gram occurs in ≥ 2 docs. */
  private def sharedOnly(sh: DataFrame): DataFrame = {
    val shared = sh.groupBy(col("g"))
      .agg(countDistinct(col("__doc")).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    sh.join(shared, Seq("g"), "left_semi")
  }

  /** Per-document COVERED-TOKEN mass under [[sharedNgramSpans]]'
    * n-gram grid: how many of a doc's tokens sit inside at least one
    * cross-doc-shared n-gram window — the number a span-removal pass
    * would delete, and the numerator of the "X% of the corpus is
    * duplicated text" headline every dedup paper reports. NOT the sum
    * of span token-lengths: two spans of covered STARTS separated by
    * a short gap (< n missing starts) still cover OVERLAPPING token
    * ranges, so summing per-span lengths double-counts. The exact
    * union length needs one more coalescing rule: a new covered
    * token-interval begins only when the next covered start is > n
    * positions away (start gap ≤ n ⇔ token ranges [s,s+n−1] touch or
    * overlap), i.e. gaps-and-islands with a lag-flag + running
    * cumsum instead of the pos − row_number trick (which splits on
    * EVERY gap). Returns (doc, covered_tokens, n_spans) where
    * n_spans counts maximal merged token-intervals.
    * Scale shape: identical to sharedNgramSpans (one gram hash-agg +
    * semi-join), plus one lag+cumsum window per doc partition. */
  def coveredTokenMass(
      df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    require(n >= 1, "coveredTokenMass: n must be >= 1")
    // r12: the sharedNgramSpans materialization was tried here too
    // and MEASURED 3x SLOWER (0.28 -> 0.84 s A/B at sf0.1): this
    // query's downstream work is too small to amortize storing the
    // gram grid. Left recomputed deliberately.
    val cov = sharedOnly(ngramGrid(df, id, text, n))
      .select(col("__doc"), col("pos"))
    val w = Window.partitionBy(col("__doc")).orderBy(col("pos"))
    val wc = Window.partitionBy(col("__doc")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cov
      .withColumn("nw",
        when(col("pos") - lag(col("pos"), 1).over(w) > n, 1)
          .otherwise(0))
      .withColumn("isl", sum(col("nw")).over(wc))
      .groupBy(col("__doc"), col("isl"))
      .agg(min(col("pos")).as("s0"), max(col("pos")).as("e0"))
      .groupBy(col("__doc"))
      .agg(sum(col("e0") - col("s0") + n).as("covered_tokens"),
           count(lit(1)).as("n_spans"))
      .select(col("__doc").as("doc"), col("covered_tokens"),
              col("n_spans"))
  }
}
