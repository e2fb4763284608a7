package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Determinism.D38

/** Privacy auditing for training-data release — the gate a corpus passes
  * BEFORE export, alongside the PII redaction of ops/ScrubOps: k-anonymity
  * equivalence-class profiling, l-diversity of a sensitive attribute, and
  * a generalization ladder that reports how coarse a numeric
  * quasi-identifier must get before a k target holds.
  *
  * Scale shape (100 TB): everything here is one hash-aggregate over the
  * QI key (map-side partials; the shuffle carries one row per
  * EQUIVALENCE CLASS, bounded by the QI domain, not the corpus) followed
  * by a tiny rollup. The ladder multiplies the corpus by |widths| rows
  * map-side BEFORE the aggregate — widths is a handful of levels, and the
  * expansion never re-shuffles the input (one exchange on (width, class)).
  * No windows, no self-joins, no driver loops.
  */
object Privacy {

  /** Equivalence classes over the quasi-identifier columns: one row per
    * class with its size. The caller picks the QI projection (banded
    * numerics, truncated strings, …). */
  def classSizes(df: DataFrame, qi: Seq[Column]): DataFrame =
    df.groupBy(qi: _*).agg(count(lit(1)).as("class_size"))

  /** Per-`rollup` k-anonymity audit. `rollup` must name one of the QI
    * output columns (the roll-up is a coarsening of the class key, so
    * the second aggregate is exact). Emits, per rollup value: number of
    * classes, classes below k, rows in those classes (re-identifiable
    * population under the k model), total rows, and the smallest class. */
  def kAnonAudit(df: DataFrame, qi: Seq[Column], rollup: String,
                 k: Int): DataFrame = {
    require(k >= 2, s"kAnonAudit: k must be >= 2, got $k")
    classSizes(df, qi)
      .groupBy(col(rollup))
      .agg(count(lit(1)).as("n_classes"),
           sum(when(col("class_size") < k, 1L).otherwise(0L))
             .as("n_risky_classes"),
           sum(when(col("class_size") < k, col("class_size"))
             .otherwise(lit(0L))).as("n_risky_rows"),
           sum(col("class_size")).as("n_rows"),
           min(col("class_size")).as("min_class"))
  }

  /** Distinct-l l-diversity: per QI class, the class size and the number
    * of distinct `sensitive` values seen inside it. A class with l = 1
    * leaks its sensitive attribute to anyone who can place a person in
    * it, no matter how large the class is — k-anonymity alone misses
    * this. One aggregate; the distinct count is per-class (bounded by
    * the sensitive domain), not global. */
  def lDiversity(df: DataFrame, qi: Seq[Column],
                 sensitive: Column): DataFrame =
    df.groupBy(qi: _*)
      .agg(count(lit(1)).as("class_size"),
           countDistinct(sensitive).as("l"))

  /** t-closeness audit: total-variation distance between each QI
    * class's sensitive-value distribution and the GLOBAL one — the
    * refinement beyond [[lDiversity]] (a class can be l-diverse yet
    * still skewed: 99% one disease in a class vs 10% globally leaks
    * plenty). Exact rational arithmetic:
    * TVD = ½·Σ_s |q_s − p_s| = Σ_s |cnt_s·N − g_s·n_c| / (2·n_c·N),
    * accumulated in DECIMAL(38,0) (cnt·N reaches N² — past int64 at
    * cluster scale) and emitted once as a half-up scale-4 ratio.
    * Sensitive values ABSENT from a class still pay their global mass:
    * the class×domain frame comes from a cross join with the (tiny,
    * broadcast) global distribution, zero-filling missing cells.
    * Returns (qi…, class_size, tvd4). One corpus aggregate to cells;
    * everything after is class×domain-sized. */
  def tCloseness(df: DataFrame, qi: Seq[Column],
                 sensitive: Column): DataFrame = {
    val b = df.select((qi :+ sensitive.as("_s")): _*)
    val qn = b.columns.dropRight(1).toSeq
    val cells = b.groupBy((qn.map(col) :+ col("_s")): _*)
      .agg(count(lit(1)).as("_c"))
    val csz = cells.groupBy(qn.map(col): _*).agg(sum(col("_c")).as("n_c"))
    val g = b.groupBy(col("_s")).agg(count(lit(1)).as("_g"))
    val tot = b.agg(count(lit(1)).as("_N"))
    csz.crossJoin(broadcast(g)).crossJoin(broadcast(tot))
      .join(cells, qn :+ "_s", "left")
      .withColumn("_num", abs(coalesce(col("_c"), lit(0L)).cast(D38) *
                                col("_N") -
                              col("_g").cast(D38) * col("n_c")))
      .groupBy((qn.map(col) :+ col("n_c") :+ col("_N")): _*)
      .agg(sum(col("_num")).as("_tvd"))
      .select(qn.map(col) :+ col("n_c").as("class_size") :+
        graft.Determinism.intRatio4Wide(
          col("_tvd") * 10000,
          col("n_c").cast(D38) * col("_N") * 2).as("tvd4"): _*)
  }

  /** Generalization ladder for one numeric QI held in non-negative
    * integer units (cents, days, …): for each band width w, profile the
    * classes formed by (staticQi…, units div w). Returns one row per
    * width: class count, smallest class, rows in classes below k.
    * Callers shift any negative domain non-negative FIRST — integral
    * division below zero truncates toward zero here but floors in
    * DuckDB-style engines, and a band boundary that differs between
    * engines poisons the whole audit (graft.Determinism.ldiv note). */
  def generalizeLadder(df: DataFrame, staticQi: Seq[Column], units: Column,
                       widths: Seq[Long], k: Int): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ > 0),
      "generalizeLadder: widths must be positive")
    require(k >= 2, s"generalizeLadder: k must be >= 2, got $k")
    val widthCol = explode(array(widths.map(lit(_)): _*)).as("band_w")
    val banded = df
      .select((col("*") +: Seq(widthCol)): _*)
      .withColumn("__band", graft.Determinism.ldiv(units, col("band_w")))
    banded
      .groupBy((col("band_w") +: (staticQi :+ col("__band"))): _*)
      .agg(count(lit(1)).as("class_size"))
      .groupBy(col("band_w"))
      .agg(count(lit(1)).as("n_classes"),
           min(col("class_size")).as("min_class"),
           sum(when(col("class_size") < k, col("class_size"))
             .otherwise(lit(0L))).as("n_risky_rows"),
           sum(col("class_size")).as("n_rows"))
  }
}
