package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Determinism.D38

/** Warehouse-maintenance operators: the table-to-table reconciliation
  * jobs every recorder deployment (the reference's domain: long-lived
  * logged tables) eventually runs.
  *
  * Scale contract (same as the Dedup family): every operator is ONE
  * key-partitioned hash-aggregate over a union — map-side partials,
  * no full-outer joins, no windows over the corpus.
  */
object Etl {

  /** Order-independent table checksum — the cross-cluster
    * reconciliation primitive: Σ md5₆₀(rowRepr) mod `mod` per group.
    * The sum is commutative, so ANY row order / partitioning / engine
    * yields the identical digest; after replicating or re-partitioning
    * a 100 TB table both sides compare a handful of (group, n_rows,
    * checksum) rows instead of the data. Pure map-side md5 + one
    * map-side-combinable hash-agg (PlanSpec-pinned). Caller contract:
    * `rowRepr` must stringify deterministically (integer keys, exact
    * cents, flags — per the R4/R9 canonical-stringification rules).
    * 60-bit row values keep the DECIMAL(38,0) sum exact to 10²⁰ rows;
    * the default modulus is the Mersenne prime 2⁶¹−1. */
  def tableChecksum(df: DataFrame, grp: Column, rowRepr: Column,
                    mod: Long = 2305843009213693951L): DataFrame = {
    require(mod > 1, "tableChecksum: mod must be > 1")
    val v = conv(substring(md5(rowRepr), 1, 15), 16, 10).cast(D38)
    df.select(grp.as("_g"), v.as("_v"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n_rows"),
           (sum(col("_v")) % lit(mod)).cast("long").as("checksum"))
  }

  /** Small-files compaction planner — the OPTIMIZE bin-packing step:
    * one input row per file (`fileKey`, `rows`), files packed in key
    * order into output files targeting `targetRows` via the streaming
    * rule out = ⌊cum_before / target⌋ (an output closes once it
    * crosses target; the boundary-crossing file stays whole — inputs
    * are never split). Returns the PLAN per output file: input count,
    * row count, key span. The cumsum window runs on the file-manifest
    * frame the caller supplies — bounded by file count, never rows. */
  def compactionPlan(files: DataFrame, fileKey: Column, rows: Column,
                     targetRows: Long): DataFrame = {
    require(targetRows >= 1, "compactionPlan: targetRows must be >= 1")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_k"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    files.select(fileKey.as("_k"), rows.as("_r"))
      .withColumn("cum0", coalesce(sum(col("_r")).over(w), lit(0L)))
      .withColumn("out_file",
        graft.Determinism.ldiv(col("cum0"), lit(targetRows)))
      .groupBy(col("out_file"))
      .agg(count(lit(1)).as("n_input_files"),
           sum(col("_r")).as("n_rows"),
           min(col("_k")).as("key_min"), max(col("_k")).as("key_max"))
  }

  /** Snapshot diff: classify every key across two versions of a table
    * as added / removed / changed / unchanged. Returns the key columns
    * plus a `change` string column.
    *
    * Shape: union-tag + ONE hash-agg (the applyChanges/keepLatest
    * single-shuffle shape). Each side reduces to (key, fingerprint);
    * per key the aggregate keeps both sides' fingerprints and the
    * classifier reads the class off the pair. The textbook FULL OUTER
    * join computes the same thing but shuffles two relations into join
    * machinery and materializes wide null-padded rows; the union form
    * map-side-combines and carries one 32-byte md5 per row — at 100 TB
    * the difference is the job.
    *
    * `payload` columns are fingerprinted via md5 over a
    * separator-joined canonical string; each value is null-protected
    * individually (concat_ws SKIPS nulls — ("a", null) and (null, "a")
    * would otherwise collide). Caller contract: keys are unique within
    * each snapshot (duplicate keys fold into one fingerprint
    * arbitrarily), and payload columns must stringify deterministically
    * (cast dates/decimals upstream per the R4/R9 rules if the result
    * is oracle-compared).
    *
    * NULL keys follow the JOIN's semantics, not groupBy's: SQL equality
    * never matches a null key, so a null-keyed row in the old snapshot
    * is always `removed` and one in the new snapshot always `added` —
    * they bypass the aggregate entirely (a plain groupBy would
    * null-safely pair them into a bogus unchanged/changed row; review
    * r4 finding). */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], payload: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff: key columns required")
    require(!keys.contains("change"),
      "snapshotDiff: 'change' is the output column — rename the key")
    val reserved = Seq("__graft_fp", "__graft_side", "__graft_fp_old",
                       "__graft_fp_new")
    val clash = (oldDf.columns ++ newDf.columns).filter(reserved.contains)
    require(clash.isEmpty,
      s"snapshotDiff reserves ${clash.mkString(", ")} — rename first")
    // \u0001 field separator + \u0002 null marker: concat_ws SKIPS
    // null inputs, and an empty separator would let ("ab","c") and
    // ("a","bc") collide. A payload value containing \u0001 could
    // still craft a collision — fine for machine-generated columns,
    // not a security boundary.
    def fingered(df: DataFrame, side: Int): DataFrame = df.select(
      keys.map(col) ++ Seq(
        md5(concat_ws("\u0001", payload.map(c =>
          coalesce(col(c).cast("string"), lit("\u0002"))): _*))
          .as("__graft_fp"),
        lit(side).as("__graft_side")): _*)
    val tagged = fingered(oldDf, 0).unionByName(fingered(newDf, 1))
    val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
    val matched = tagged.filter(!anyNullKey)
      .groupBy(keys.map(col): _*)
      .agg(
        max(when(col("__graft_side") === 0, col("__graft_fp")))
          .as("__graft_fp_old"),
        max(when(col("__graft_side") === 1, col("__graft_fp")))
          .as("__graft_fp_new"))
      .withColumn("change",
        when(col("__graft_fp_old").isNull, "added")
          .when(col("__graft_fp_new").isNull, "removed")
          .when(col("__graft_fp_old") =!= col("__graft_fp_new"), "changed")
          .otherwise("unchanged"))
      .select(keys.map(col) :+ col("change"): _*)
    val unmatched = tagged.filter(anyNullKey)
      .select(keys.map(col) :+
        when(col("__graft_side") === 0, "removed").otherwise("added")
          .as("change"): _*)
    matched.unionByName(unmatched)
  }

  /** Population-stability-index drift between two snapshots: PSI =
    * Σ_b (p_cur − p_ref)·ln(p_cur/p_ref) over the caller-supplied
    * `bucket` column (a fixed-width `floor(x / w)` for numerics, the
    * raw value for categoricals — the caller owns the binning). The
    * data-quality gate run between ingest batches: PSI < 0.1 is the
    * folklore "stable" bar, > 0.25 "shifted, investigate".
    *
    * Probabilities are add-one smoothed over the OBSERVED bucket set
    * (p = (n+1)/(N+B)) so a bucket present in only one snapshot
    * contributes a finite term — no ε constants, integer-derived and
    * engine-portable. Returns one row per bucket:
    * (bucket, n_ref, n_cur, psi_term, psi) with `psi` the total
    * repeated on every row; psi_term rounded to 6 dp, psi = the
    * rounded-term sum rounded to 4 (deterministic: the only
    * double-order reduction runs over ≤ B already-rounded terms).
    *
    * Shape: union-tag + ONE corpus-sized hash-agg to (bucket,
    * n_ref, n_cur) — the snapshotDiff discipline — then windows over
    * the BUCKET-COUNT-sized frame only (never the corpus). */
  def psi(ref: DataFrame, cur: DataFrame, bucket: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val counts = ref.select(bucket.as("bucket")).withColumn("_side", lit(0))
      .unionByName(
        cur.select(bucket.as("bucket")).withColumn("_side", lit(1)))
      .groupBy(col("bucket"))
      .agg(count(when(col("_side") === 0, 1)).as("n_ref"),
           count(when(col("_side") === 1, 1)).as("n_cur"))
    counts
      .withColumn("_pr",
        (col("n_ref") + 1).cast("double") /
        (sum(col("n_ref")).over(w) + count(lit(1)).over(w)).cast("double"))
      .withColumn("_pc",
        (col("n_cur") + 1).cast("double") /
        (sum(col("n_cur")).over(w) + count(lit(1)).over(w)).cast("double"))
      .withColumn("psi_term",
        round((col("_pc") - col("_pr")) * log(col("_pc") / col("_pr")), 6)
          + lit(0.0))
      .withColumn("psi", round(sum(col("psi_term")).over(w), 4) + lit(0.0))
      .drop("_pr", "_pc")
  }

  /** Declarative data-quality gate: every predicate check over one
    * table runs in ONE scan (a single conditional aggregate — at
    * 100 TB, a gate that re-scans per check is a non-starter), then
    * unpivots to one (check, n_violations, pass) row each. A NULL
    * predicate counts as a VIOLATION (three-valued logic must not let
    * unknown rows slip through a gate). Check names become column
    * aliases mid-flight and must be identifier-safe. */
  def expect(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "expect: at least one check")
    require(checks.forall(_._1.matches("[A-Za-z_][A-Za-z0-9_]*")),
      "expect: check names must be identifier-safe")
    val aggs = checks.map { case (name, pred) =>
      count_if(!coalesce(pred, lit(false))).as(name)
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stack = s"stack(${checks.size}, " +
      checks.map(c => s"'${c._1}', `${c._1}`").mkString(", ") +
      ") as (check_name, n_violations)"
    wide.selectExpr(stack)
      .withColumn("pass", col("n_violations") === 0L)
  }

  /** [[expect]]'s checks as FREE inline metrics: the counters attach
    * to the frame via Spark's Observation API and materialize as a
    * side effect of whatever action the caller already runs (the
    * production write, a count) — ZERO extra scan, where expect() is
    * its own aggregate job. The deployment shape for a 100 TB gate:
    * audit the export in the export. Same NULL-is-violation semantics
    * as expect. After the action, `observation.get` yields
    * Map("viol_<name>" -> count); get BLOCKS until an action runs. */
  def observeExpectations(
      df: DataFrame, checks: Seq[(String, Column)])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    require(checks.nonEmpty, "observeExpectations: at least one check")
    require(checks.forall(_._1.matches("[A-Za-z_][A-Za-z0-9_]*")),
      "observeExpectations: check names must be identifier-safe")
    val obs = org.apache.spark.sql.Observation()
    val aggs = checks.map { case (name, pred) =>
      count_if(!coalesce(pred, lit(false))).as(s"viol_$name")
    }
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Key-uniqueness check in [[expect]]'s row shape: n_violations =
    * rows beyond the first per duplicate key (COUNT(*) − COUNT(DISTINCT
    * key)). One hash-agg; the distinct count is exact. */
  def expectUnique(df: DataFrame, name: String, key: Column): DataFrame =
    df.agg((count(lit(1)) - countDistinct(key)).as("n_violations"))
      .select(lit(name).as("check_name"), col("n_violations"),
              (col("n_violations") === 0L).as("pass"))

  /** Referential-integrity check in [[expect]]'s row shape:
    * n_violations = child rows whose FK has no parent — a LEFT ANTI
    * equi-join (never a full outer), counting only. */
  def expectRefIntegrity(
      child: DataFrame, name: String, fk: Column,
      parent: DataFrame, pk: Column): DataFrame = {
    require(!child.columns.contains("__graft_pk"),
      "expectRefIntegrity reserves __graft_pk — rename the child column")
    child.join(parent.select(pk.as("__graft_pk")),
               fk === col("__graft_pk"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("check_name"), col("n_violations"),
              (col("n_violations") === 0L).as("pass"))
  }
}
