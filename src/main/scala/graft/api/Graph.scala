package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph traversal over edge-list DataFrames — the BFS
  * companion to [[Dedup.connectedComponents]]'s fixpoint. Where CC labels
  * every node of every component, `shortestHops` answers the *local*
  * question — what is reachable from a seed within k hops, and how far —
  * which is the building block for contamination blast-radius checks
  * ("every doc within 2 dedup-links of a benchmark doc"), lineage
  * spidering, and bounded graph features.
  *
  * Scale design (100 TB):
  *  - The edge list is hash-partitioned on `src` ONCE and cached; every
  *    hop joins on that same key, so iterations reuse the partitioning
  *    instead of re-shuffling the (big) edge side each round.
  *  - The frontier is the only thing that moves: hop h joins the hop-h-1
  *    frontier (typically ≪ edges) against the edges, then anti-joins
  *    the visited set to drop already-reached nodes. Everything stays
  *    distributed — the driver never collects a frontier; each hop's
  *    frontier and visited set are truncated with an eager
  *    localCheckpoint (maxHops is single-digit in every intended use, so
  *    the CC-style rolling reliable-checkpoint machinery is not needed;
  *    borrow it from connectedComponents if you must traverse hundreds
  *    of hops on a lossy cluster).
  *  - AQE picks a broadcast join for the frontier side automatically
  *    once its materialized size is known and small.
  */
object Graph {

  /** Minimum-hop distance from `source` to every node reachable within
    * `maxHops` directed edges. `edges` must have `src` and `dst` columns
    * (pass both directions for an undirected graph). Returns
    * `(node, dist)` with one row per reachable node, including the
    * source at dist 0 — exactly `min(d)` over the recursive path
    * enumeration a SQL `WITH RECURSIVE` oracle performs.
    */
  def shortestHops(
      spark: SparkSession,
      edges: DataFrame,
      source: Long,
      maxHops: Int): DataFrame = {
    import spark.implicits._
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .repartition(col("src")).persist()
    try {
      var visited = Seq((source, 0)).toDF("node", "dist")
      var frontier = visited
      var h = 1
      while (h <= maxHops && !frontier.isEmpty) {
        frontier = e
          .join(frontier.select(col("node")), col("src") === col("node"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti")
          .withColumn("dist", lit(h))
          .localCheckpoint()
        visited = visited.union(frontier).localCheckpoint()
        h += 1
      }
      visited
    } finally { e.unpersist(); () }
  }

  /** Bounded-iteration PageRank over a directed edge list, in FIXED-
    * POINT integer arithmetic: ranks live in 1e-12 units (BIGINT), the
    * per-edge contribution is `rank div outdeg` (integer floor div) and
    * damping is `(c * 85) div 100` — so every intermediate is exact
    * integer math, the per-dst aggregation is order-independent, and
    * the whole iteration is bit-identical on any engine or
    * partitioning (the house Determinism rule applied to an iterative
    * algorithm; a floating-point PageRank's ranks depend on the
    * reduction order of the incoming-contribution sums). The floor
    * steps leak ≤1e-12·indegree of mass per node per round — both
    * engines leak identically, and at 1e-12 granularity the ranking is
    * unaffected. Dangling-node mass is dropped (the common simplified
    * form), making ranks a per-node fixpoint rather than a strict
    * probability distribution.
    *
    * Scale shape: edges pre-joined with out-degrees and hash-
    * partitioned on `src` ONCE (cached) — each round reuses that
    * partitioning for the rank join, then one hash-agg on `dst` and a
    * left join back to the node set; rank frames are truncated with
    * eager localCheckpoints like [[shortestHops]] (iterations are
    * single-digit; borrow connectedComponents' reliable-checkpoint
    * machinery for long runs on lossy clusters).
    *
    * Returns (node, rank_e12 BIGINT): rank in 1e-12 units,
    * initial mass 1e12 per node, damping 0.85. */
  /** Bounded Bellman-Ford single-source shortest paths over INTEGER
    * edge weights (src, dst, w ≥ 0): `rounds` relaxation sweeps give
    * the exact min total weight over paths of ≤ `rounds` hops. Each
    * sweep is ONE dist⋈edges equi-join (edges pre-hashed on src, the
    * [[shortestHops]] posture) + a min hash-agg; lineage truncates per
    * sweep via localCheckpoint. Deterministic: integer weights, min
    * aggregate — no float accumulation, no order sensitivity. With
    * non-negative weights the ≤h-hop path minimum equals the ≤h-hop
    * WALK minimum, which is what a recursive-SQL oracle replays. */
  def ssspBounded(
      spark: SparkSession,
      edges: DataFrame,
      source: Long,
      rounds: Int): DataFrame = {
    import spark.implicits._
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
                         col("w").cast("long"))
      .repartition(col("src")).persist()
    try {
      var dist = Seq((source, 0L)).toDF("node", "dist")
      var r = 0
      while (r < rounds) {
        dist = dist
          .union(e.join(dist, col("src") === col("node"))
            .select(col("dst").as("node"),
                    (col("dist") + col("w")).as("dist")))
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint()
        r += 1
      }
      dist
    } finally { e.unpersist(); () }
  }

  def pageRank(
      spark: SparkSession,
      edges: DataFrame,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val unit = 1000000000000L // 1.0 in rank units
    val base = unit * 15L / 100L // (1 - 0.85) · unit, exact
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("_odeg"))
    val e = e0.join(outdeg, "src").repartition(col("src")).persist()
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct().persist()
    try {
      var ranks = nodes.withColumn("r", lit(unit))
      for (_ <- 1 to iterations) {
        val contrib = e
          .join(ranks, col("src") === col("node"))
          .select(col("dst"), expr("r div _odeg").as("_c"))
          .groupBy(col("dst")).agg(sum(col("_c")).as("_c"))
        // floor(c·85/100) decomposed as 85·(c div 100) +
        // (c mod 100)·85 div 100: exact, and never forms c·85 — which
        // would wrap once total graph mass exceeds 2^63/85 (~10^5
        // nodes); this form is safe at any node count whose total mass
        // itself fits in int64 (~9·10^6 nodes·unit — raise `unit` down
        // if you rank a larger graph)
        ranks = nodes
          .join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
                  (lit(base) +
                   expr("(coalesce(_c, 0L) div 100) * 85 + " +
                        "(coalesce(_c, 0L) % 100) * 85 div 100")).as("r"))
          .localCheckpoint()
      }
      ranks.select(col("node"), col("r").as("rank_e12"))
    } finally { e.unpersist(); nodes.unpersist(); () }
  }

  /** Per-node triangle counts with DEGREE-ORDERED edge orientation
    * (Suri & Vassilvitskii's MapReduce formulation): orient every
    * undirected edge from its lower-(degree, id) endpoint to the
    * higher, so each triangle materializes exactly once and the wedge
    * join's per-key fanout is bounded by the oriented out-degree
    * (≤ O(√m) for any graph) — a degree-10⁶ hub would generate 10¹²
    * wedges under naive id-ordering but only ~√m here. The
    * wedge→closing-edge confirm is a LEFT SEMI equi-join, so nothing
    * wider than the wedge set ever shuffles.
    *
    * `edges` must carry both directions of each undirected edge in
    * (src, dst), no self-loops. Returns (node, tri_cnt) for every node
    * in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.select(col("src"), col("deg").as("du")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dv")), "dst")
      .filter(col("du") < col("dv") ||
              (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))
    val wedges = oriented.select(col("u").as("a"), col("v").as("b"))
      .join(oriented.select(col("u").as("b"), col("v").as("c")), "b")
      .select(col("a"), col("b"), col("c"))
    val tri = wedges.join(
      oriented.select(col("u").as("a"), col("v").as("c")),
      Seq("a", "c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
  }

  /** Synchronous label propagation (LPA community detection), bounded
    * iterations: labels start as node ids; each round every node adopts
    * the most frequent label among its in-neighbours, ties broken to
    * the SMALLEST label (min-struct on (−count, label)) — the
    * deterministic variant of Raghavan et al.'s LPA (the random-order
    * asynchronous original could never pass a cross-engine hash gate).
    * Nodes with no in-edges keep their current label. `edges` must
    * carry both directions for an undirected graph.
    *
    * Scale shape, mirroring [[pageRank]]: edges hash-partitioned on
    * `src` ONCE and cached; each round is one equi-join of the (node,
    * label) frame on `dst`, one (src, label) hash-agg with map-side
    * partials, one per-src min-struct argmax, and a left join back to
    * the label frame — all on the same key, lineage cut per round with
    * an eager localCheckpoint. Nothing wider than the edge list ever
    * shuffles, and the label frame is node-sized. Returns
    * (node, label). */
  def labelPropagation(
      spark: SparkSession,
      edges: DataFrame,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val e = e0.repartition(col("src")).persist()
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct().persist()
    try {
      var lab = nodes.withColumn("lab", col("node"))
      for (_ <- 1 to iterations) {
        val votes = e
          .join(lab, col("dst") === col("node"))
          .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("c"))
        val winners = votes
          .groupBy(col("src"))
          .agg(min(struct((-col("c")).as("nc"), col("lab").as("lab")))
            .as("b"))
          .select(col("src").as("node"), col("b.lab").as("newlab"))
        lab = lab
          .join(winners, Seq("node"), "left")
          .select(col("node"),
                  coalesce(col("newlab"), col("lab")).as("lab"))
          .localCheckpoint()
      }
      lab.select(col("node"), col("lab").as("label"))
    } finally { e.unpersist(); nodes.unpersist(); () }
  }

  /** k-core decomposition (one k): the maximal subgraph in which every
    * vertex keeps degree ≥ k, found by iterative peeling — drop all
    * vertices of degree < k, recompute, repeat until stable. The
    * community-detection / spam-subgraph primitive: a dense crawl-farm
    * clique survives high k while organically-linked pages fall away.
    *
    * Input `pairs` is an undirected edge list (either direction, self
    * loops and duplicates tolerated — canonicalized here). Returns
    * (node, deg) for the surviving core's vertices with their in-core
    * degrees (empty frame if the k-core is empty).
    *
    * Scale design, mirroring [[Dedup.connectedComponents]]'s fixpoint
    * discipline:
    *  - each round is degree hash-agg + two LEFT SEMI equi-joins on the
    *    vertex key — never anything wider than the edge list;
    *  - lineage is cut per round with an eager localCheckpoint (peeling
    *    depth is the graph's degeneracy ordering depth — typically tens
    *    of rounds; borrow CC's rolling reliable-checkpoint machinery for
    *    lossy clusters);
    *  - the convergence count runs on the VERTEX-sized sub-k frame
    *    (never edge-sized): `removed == 0` terminates.
    *
    * `maxRounds` bounds the peel (default: run to fixpoint). A bounded
    * peel is a deterministic operator in its own right — "the graph
    * after r peel passes" is well-defined at ANY scale factor, which is
    * what lets the declared query hash-match a finitely-unrolled SQL
    * oracle; when the peel converges in fewer than `maxRounds` rounds
    * the bounded and fixpoint results coincide. */
  def kCore(pairs: DataFrame, a: String, b: String, k: Int,
            maxRounds: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val canon = pairs
      .select(col(a).cast("long").as("s"), col(b).cast("long").as("t"))
      .filter(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("src"),
              greatest(col("s"), col("t")).as("dst"))
      .distinct()
    var edges = canon.localCheckpoint()
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      round += 1
      val deg = edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val sub = deg.filter(col("d") < k)
      if (sub.isEmpty) done = true
      else {
        // two distinctly-aliased copies: semi-joining the SAME frame
        // twice would trip ambiguous-self-join resolution
        val keepS = deg.filter(col("d") >= k).select(col("v").as("_ks"))
        val keepT = deg.filter(col("d") >= k).select(col("v").as("_kt"))
        edges = edges
          .join(keepS, col("src") === col("_ks"), "left_semi")
          .join(keepT, col("dst") === col("_kt"), "left_semi")
          .localCheckpoint()
      }
    }
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }
}
