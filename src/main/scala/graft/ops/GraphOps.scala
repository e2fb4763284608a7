package graft.ops

import org.apache.spark.sql.functions._

import graft.Determinism.D38
import graft.io.Tables

/** SURVEY §2 — iterative graph traversal, oracle-checked against DuckDB's
  * `WITH RECURSIVE`. The declared query builds a real graph from the
  * fixture (suppliers co-supplying the same order within one week) and
  * runs a bounded BFS — the one operator class whose Spark form is a
  * driver-coordinated LOOP of joins rather than a single plan, so the
  * oracle gate proving it equals the recursive-SQL semantics is worth
  * more than any unit test.
  */
object GraphOps extends OpGroup {

  /** Distinct (l_orderkey, l_suppkey) of the orders of the 1997-01-01
    * week. */
  private def weekSupplies(s: org.apache.spark.sql.SparkSession,
                           d: String): org.apache.spark.sql.DataFrame = {
    val wk = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
              col("o_orderdate") < lit("1997-01-08"))
      .select(col("o_orderkey"))
    Tables.lineitem(s, d)
      .join(wk, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
  }

  /** The shared co-supply graph (suppliers linked iff they appear in
    * the same order of the 1997-01-01 week): one Spark builder + one
    * SQL CTE string, used by BOTH declared queries so the graph
    * definition cannot drift between BFS and PageRank. */
  private def coSupplyEdges(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    // r12 (guide §3.3): `ls` feeds both sides of the co-occurrence
    // self-join, and the returned edge list is referenced several
    // times by every consumer (degree frame + pair join + node set +
    // the fixpoint loops) — lazily planned, the whole
    // orders-semi-join-distinct pipeline re-ran per reference.
    // Materialize both once per invocation (localCheckpoint — never
    // CacheManager-registered, so every bench/verify rep recomputes
    // from parquet).
    val ls = weekSupplies(s, d).localCheckpoint()
    ls.alias("a")
      .join(ls.alias("b"), col("a.l_orderkey") === col("b.l_orderkey"))
      .filter(col("a.l_suppkey") =!= col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      .distinct()
      .localCheckpoint()
  }

  private val coSupplyEdgesSql: String =
    """ls AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      |  WHERE l_orderkey IN (
      |    SELECT o_orderkey FROM orders
      |    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |      AND o_orderdate <  TIMESTAMP '1997-01-08')),
      |e AS (
      |  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      |  FROM ls a JOIN ls b USING (l_orderkey)
      |  WHERE a.l_suppkey <> b.l_suppkey)""".stripMargin

  def qs: Seq[Q] = Seq(
    Q(
      // Co-supply reachability: edges link suppliers appearing in the
      // same order (orders of one week), BFS from supplier 1, ≤4 hops,
      // min hop distance per reached supplier. The co-occurrence
      // self-join is on l_orderkey (bounded per-order fanout — TPC-H
      // orders have ≤7 lineitems; a 100 TB corpus with hub keys would
      // cap or salt the fanout exactly like Dedup's hot-shingle cap);
      // the BFS joins hash on src each hop (api.Graph scale notes).
      "q_graph_reachability",
      (s, d) => {
        graft.api.Graph.shortestHops(
            s, coSupplyEdges(s, d), source = 1L, maxHops = 4)
          .select(col("node"), col("dist"))
          .orderBy(col("dist"), col("node"))
      },
      s"""WITH RECURSIVE $coSupplyEdgesSql,
        |bfs(node, d) AS (
        |  SELECT CAST(1 AS BIGINT) AS node, 0 AS d
        |  UNION
        |  SELECT e.dst, bfs.d + 1
        |  FROM bfs JOIN e ON e.src = bfs.node WHERE bfs.d < 4)
        |SELECT node, min(d) AS dist
        |FROM bfs GROUP BY node
        |ORDER BY dist, node""".stripMargin),

    Q(
      // The same traversal as a NATIVE recursive CTE on BOTH engines:
      // Spark 4.x executes WITH RECURSIVE via UnionLoopExec (each step
      // is one planned join of the previous frontier against the edge
      // table — the engine owns the loop, not the driver; contrast
      // q_graph_reachability, whose Spark side is api.Graph's driver
      // loop and whose recursion lives only in the ORACLE). UNION ALL
      // semantics are made load-bearing: the result counts WALKS of
      // length ≤ 3 per reached node (not just min hop distance), which
      // a dedup'ing UNION recursion could not produce — so the gate
      // proves the recursive execution itself, not a coincidence of
      // frontier sets. Walk counts are integers → order-independent →
      // hash-exact. Depth bound 3 keeps the walk fan-out (~degree³)
      // bounded; PlanSpec pins the UnionLoop plan shape.
      "q_graph_rcte",
      (s, d) => {
        coSupplyEdges(s, d).createOrReplaceTempView("rcte_edges")
        s.sql(
          """WITH RECURSIVE bfs(node, dd) AS (
            |  SELECT CAST(1 AS BIGINT) AS node, 0 AS dd
            |  UNION ALL
            |  SELECT e.dst, bfs.dd + 1
            |  FROM bfs JOIN rcte_edges e ON e.src = bfs.node
            |  WHERE bfs.dd < 3)
            |SELECT node, MIN(dd) AS dist, COUNT(*) AS n_walks
            |FROM bfs GROUP BY node
            |ORDER BY dist, n_walks, node""".stripMargin)
      },
      s"""WITH RECURSIVE $coSupplyEdgesSql,
        |bfs(node, dd) AS (
        |  SELECT CAST(1 AS BIGINT) AS node, 0 AS dd
        |  UNION ALL
        |  SELECT e.dst, bfs.dd + 1
        |  FROM bfs JOIN e ON e.src = bfs.node WHERE bfs.dd < 3)
        |SELECT node, MIN(dd) AS dist, CAST(COUNT(*) AS BIGINT) AS n_walks
        |FROM bfs GROUP BY node
        |ORDER BY dist, n_walks, node""".stripMargin),

    Q(
      // WEIGHTED shortest paths (bounded Bellman-Ford,
      // api.Graph.ssspBounded): edge cost 11 − min(shared_orders, 10),
      // so strongly co-supplying pairs are "close" — min total cost
      // within ≤4 relaxation sweeps from supplier 1. Each sweep is one
      // dist⋈edges join + a min hash-agg on INTEGER weights (no float
      // path sums — order-independent, HUGEINT-replayable); with
      // non-negative weights the ≤4-hop path minimum equals the walk
      // minimum the oracle's recursive CTE computes.
      "q_graph_sssp",
      (s, d) => {
        val ls = weekSupplies(s, d)
          .localCheckpoint() // r12: shared by both self-join sides
        val ew = ls.alias("a")
          .join(ls.alias("b"), col("a.l_orderkey") === col("b.l_orderkey"))
          .filter(col("a.l_suppkey") =!= col("b.l_suppkey"))
          .groupBy(col("a.l_suppkey").as("src"),
                   col("b.l_suppkey").as("dst"))
          .agg(count(lit(1)).as("c"))
          .select(col("src"), col("dst"),
                  (lit(11) - least(col("c"), lit(10))).as("w"))
        graft.api.Graph.ssspBounded(s, ew, source = 1L, rounds = 4)
          .orderBy(col("dist"), col("node"))
      },
      s"""WITH RECURSIVE $coSupplyEdgesSql,
        |ew AS (
        |  SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    11 - LEAST(COUNT(*), 10) AS w
        |  FROM ls a JOIN ls b USING (l_orderkey)
        |  WHERE a.l_suppkey <> b.l_suppkey
        |  GROUP BY 1, 2),
        |p(node, dd, h) AS (
        |  SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dd,
        |    0 AS h
        |  UNION ALL
        |  SELECT e.dst, p.dd + e.w, p.h + 1
        |  FROM p JOIN ew e ON e.src = p.node WHERE p.h < 4)
        |SELECT node, MIN(dd) AS dist FROM p GROUP BY node
        |ORDER BY dist, node""".stripMargin),

    Q(
      // bounded PageRank (api.Graph.pageRank) over the same co-supply
      // graph, 3 power iterations, damping 0.85 — in FIXED-POINT
      // integer math (1e-12 rank units, floor-div contributions and
      // damping) so the per-dst reduction is order-independent and the
      // oracle can replay the iteration EXACTLY with `//`: a
      // floating-point PageRank could never hash-match across engines
      // (sum order), this one matches to the last unit. The oracle
      // unrolls the three iterations as chained CTEs (recursive CTEs
      // cannot aggregate per step).
      "q_graph_pagerank",
      (s, d) => {
        graft.api.Graph.pageRank(s, coSupplyEdges(s, d), iterations = 3)
          .orderBy(col("rank_e12").desc, col("node"))
      },
      {
        def iter(prev: String, out: String): String =
          s"""c$out AS (
            |  SELECT e.dst AS node, SUM(r$prev.r // od.odeg) AS c
            |  FROM e JOIN od ON od.src = e.src
            |         JOIN r$prev ON r$prev.node = e.src
            |  GROUP BY e.dst),
            |r$out AS (
            |  SELECT n.node, 150000000000 +
            |    (COALESCE(c.c, 0) // 100) * 85 +
            |    ((COALESCE(c.c, 0) % 100) * 85 // 100) AS r
            |  FROM nodes n LEFT JOIN c$out c ON c.node = n.node)""".stripMargin
        s"""WITH $coSupplyEdgesSql,
          |nodes AS (
          |  SELECT src AS node FROM e UNION SELECT dst FROM e),
          |od AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),
          |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r
          |       FROM nodes),
          |${iter("0", "1")},
          |${iter("1", "2")},
          |${iter("2", "3")}
          |SELECT node, CAST(r AS BIGINT) AS rank_e12 FROM r3
          |ORDER BY rank_e12 DESC, node""".stripMargin
      }),

    Q(
      // Per-node triangle counts over the SAME co-supply graph, with
      // DEGREE-ORDERED edge orientation — the distributed-triangle
      // trick (Suri & Vassilvitskii's MapReduce formulation): orient
      // every undirected edge from its lower-(degree, id) endpoint to
      // the higher, so (a) each triangle materializes exactly once and
      // (b) the wedge join's per-key fanout is bounded by the oriented
      // out-degree ≤ O(√m) for any graph — a degree-10⁶ hub generates
      // 10¹² wedges under naive id-ordering but only its ~√m
      // higher-ranked neighbors' wedges here. The wedge→closing-edge
      // confirm is a LEFT SEMI equi-join (no pair materialization
      // beyond the wedge set). Oracle replays orientation + wedge +
      // EXISTS literally.
      "q_graph_triangles",
      (s, d) => graft.api.Graph.triangleCounts(coSupplyEdges(s, d))
        .select(col("node").as("s_suppkey"), col("tri_cnt"))
        .orderBy(col("s_suppkey")),
      s"""WITH $coSupplyEdgesSql,
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |o AS (
        |  SELECT e.src AS u, e.dst AS v
        |  FROM e JOIN deg a ON a.src = e.src JOIN deg b ON b.src = e.dst
        |  WHERE a.d < b.d OR (a.d = b.d AND e.src < e.dst)),
        |tri AS (
        |  SELECT o1.u AS a, o1.v AS b, o2.v AS c
        |  FROM o o1 JOIN o o2 ON o2.u = o1.v
        |  WHERE EXISTS (SELECT 1 FROM o o3
        |                WHERE o3.u = o1.u AND o3.v = o2.v)),
        |n AS (SELECT a AS s FROM tri UNION ALL
        |      SELECT b FROM tri UNION ALL
        |      SELECT c FROM tri)
        |SELECT s AS s_suppkey, COUNT(*) AS tri_cnt
        |FROM n GROUP BY s ORDER BY s""".stripMargin),

    Q(
      // Degree distribution of the same co-supply graph: per-node
      // degree (one hash-agg on src — the symmetric edge set makes
      // out-degree = degree), then the degree histogram. The graph
      // summary every topology report starts with; two shuffles total,
      // both on already-collapsed frames.
      "q_graph_degree_dist",
      (s, d) => coSupplyEdges(s, d)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg")),
      s"""WITH $coSupplyEdgesSql,
        |dg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)
        |SELECT deg, COUNT(*) AS n_nodes
        |FROM dg GROUP BY deg ORDER BY deg""".stripMargin),

    Q(
      // Degree assortativity: Pearson r over (deg(src), deg(dst)) of
      // every directed edge — do similar-degree suppliers co-supply
      // (r>0, assortative) or do hubs attach to leaves (r<0)? Degree
      // moments exact in DECIMAL(38,0), r is one double; the degree
      // map joins back to the edge list twice on its equi key.
      "q_graph_assortativity",
      (s, d) => {
        val e = coSupplyEdges(s, d)
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
        val pairs = e
          .join(deg.select(col("src").as("_s"), col("dg").as("dx")),
                col("src") === col("_s"))
          .join(deg.select(col("src").as("_t"), col("dg").as("dy")),
                col("dst") === col("_t"))
        Frames.pearsonSums(pairs.groupBy(), col("dx"), col("dy"))
          .select(col("n").as("n_edges"), Frames.pearsonR4.as("r_assort"))
      },
      s"""WITH $coSupplyEdgesSql,
        |dg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |p AS (
        |  SELECT a.deg AS dx, b.deg AS dy
        |  FROM e JOIN dg a ON a.src = e.src JOIN dg b ON b.src = e.dst),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(dx AS HUGEINT)) AS sx, SUM(CAST(dy AS HUGEINT)) AS sy,
        |    SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
        |    SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
        |    SUM(CAST(dy AS HUGEINT) * dy) AS syy
        |  FROM p)
        |SELECT n AS n_edges,
        |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |               * CAST(CAST(n AS HUGEINT) * syy - sy * sy
        |                      AS DOUBLE)), 4) + 0 AS r_assort
        |FROM m""".stripMargin),

    Q(
      // deterministic label-propagation communities (api.Graph
      // .labelPropagation) over the same co-supply graph, 2 synchronous
      // rounds: labels start as node ids, each round every supplier
      // adopts its neighbours' most frequent label (ties → smallest
      // label) — the LPA variant that is partition-order-proof and so
      // hash-gateable, where the classic random-order asynchronous LPA
      // is not. Per-node labels are declared (the strongest possible
      // gate: every community assignment is checked); the oracle
      // unrolls both rounds as chained CTEs with the argmax as a
      // row_number over (count DESC, label ASC).
      "q_graph_lpa",
      (s, d) => {
        graft.api.Graph.labelPropagation(
            s, coSupplyEdges(s, d), iterations = 2)
          .select(col("node").as("s_suppkey"), col("label").as("community"))
          .orderBy(col("s_suppkey"))
      },
      {
        def round(prev: String, out: String): String =
          s"""v$out AS (
            |  SELECT e.src, l.lab, COUNT(*) AS c
            |  FROM e JOIN l$prev l ON l.node = e.dst
            |  GROUP BY e.src, l.lab),
            |w$out AS (
            |  SELECT src AS node, lab FROM (
            |    SELECT src, lab, row_number() OVER (PARTITION BY src
            |      ORDER BY c DESC, lab ASC) AS rn FROM v$out)
            |  WHERE rn = 1),
            |l$out AS (
            |  SELECT p.node, COALESCE(w.lab, p.lab) AS lab
            |  FROM l$prev p LEFT JOIN w$out w ON w.node = p.node)""".stripMargin
        s"""WITH $coSupplyEdgesSql,
          |nodes AS (
          |  SELECT src AS node FROM e UNION SELECT dst FROM e),
          |l0 AS (SELECT node, node AS lab FROM nodes),
          |${round("0", "1")},
          |${round("1", "2")}
          |SELECT node AS s_suppkey, lab AS community
          |FROM l2 ORDER BY node""".stripMargin
      }),

    Q(
      // Link prediction over the co-supply graph: score every
      // NON-adjacent supplier pair reachable in 2 hops with the three
      // classic neighborhood heuristics — common-neighbor count,
      // neighbor-set Jaccard (exact scale-4), preferential attachment
      // (deg·deg) — the candidate-generation layer of a "suppliers
      // likely to co-supply next" recommender. Candidates come from
      // one path-2 equi-join (x.dst = y.src, fan-out bounded by max
      // degree — the hub-cap/salting discipline of SCALE.md applies at
      // 100 TB), existing edges are removed by an anti-join BEFORE
      // scoring, degrees are a vertex-sized hash-agg joined back, and
      // only the top-30 (cn desc, pair asc — fully deterministic)
      // cross the driver via TakeOrderedAndProject. Jaccard's
      // denominator |Γa ∪ Γb| = deg_a + deg_b − cn is exact integer
      // set algebra on the undirected edge set.
      "q_graph_linkpred",
      (s, d) => {
        val e = coSupplyEdges(s, d)
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val cand = e.alias("x")
          .join(e.alias("y"), col("x.dst") === col("y.src"))
          .filter(col("x.src") < col("y.dst"))
          .select(col("x.src").as("a"), col("y.dst").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
        val nonEdge = cand.join(
          e.select(col("src").as("_s"), col("dst").as("_d")),
          col("a") === col("_s") && col("b") === col("_d"), "left_anti")
        nonEdge
          .join(deg.select(col("src").as("_da"), col("deg").as("deg_a")),
                col("a") === col("_da"))
          .join(deg.select(col("src").as("_db"), col("deg").as("deg_b")),
                col("b") === col("_db"))
          .select(col("a").as("supp_a"), col("b").as("supp_b"),
                  col("cn"), col("deg_a"), col("deg_b"),
                  graft.Determinism.intRatio4(
                    col("cn") * 10000L,
                    col("deg_a") + col("deg_b") - col("cn"))
                    .as("jaccard4"),
                  (col("deg_a") * col("deg_b")).as("pref_attach"))
          .orderBy(col("cn").desc, col("supp_a"), col("supp_b"))
          .limit(30)
      },
      s"""WITH RECURSIVE $coSupplyEdgesSql,
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |cand AS (
        |  SELECT x.src AS a, y.dst AS b, COUNT(*) AS cn
        |  FROM e x JOIN e y ON x.dst = y.src
        |  WHERE x.src < y.dst
        |  GROUP BY x.src, y.dst),
        |ne AS (
        |  SELECT c.* FROM cand c
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.src = c.a AND e.dst = c.b))
        |SELECT ne.a AS supp_a, ne.b AS supp_b,
        |  CAST(ne.cn AS BIGINT) AS cn,
        |  CAST(da.deg AS BIGINT) AS deg_a,
        |  CAST(db.deg AS BIGINT) AS deg_b,
        |  CAST((2*(ne.cn*10000) + (da.deg + db.deg - ne.cn))
        |       // (2*(da.deg + db.deg - ne.cn)) AS DOUBLE) / 10000.0
        |    AS jaccard4,
        |  CAST(da.deg * db.deg AS BIGINT) AS pref_attach
        |FROM ne
        |JOIN deg da ON ne.a = da.src
        |JOIN deg db ON ne.b = db.src
        |ORDER BY ne.cn DESC, supp_a ASC, supp_b ASC
        |LIMIT 30""".stripMargin),

    Q(
      // Bounded-radius HARMONIC centrality (Σ 1/d over nodes within 3
      // hops) — the centrality member beside PageRank/degree that
      // rewards being CLOSE to many nodes, with the standard bounded-
      // radius cut that makes it computable on a 100 TB graph (full
      // closeness needs all-pairs distances; radius-3 needs three
      // frontier joins). Distances materialize as THREE anti-joined
      // layers (d=1 edges; d=2 the path-2 pairs minus d=1; d=3 the
      // frontier-3 pairs minus closer) — each an equi-join on the hop
      // key with the documented hub-cap discipline. The score is EXACT
      // set arithmetic: 1/d over d∈{1,2,3} on the common denominator 6
      // gives h6 = 6·|d1| + 3·|d2| + 2·|d3| as an integer per node,
      // h4 = h6/6 via intRatio4 — no float harmonic sum to flap.
      "q_graph_harmonic",
      (s, d) => {
        val e = coSupplyEdges(s, d)
        val p1 = e.select(col("src").as("a"), col("dst").as("b"))
        val c2 = e.alias("x")
          .join(e.alias("y"), col("x.dst") === col("y.src"))
          .filter(col("x.src") =!= col("y.dst"))
          .select(col("x.src").as("a"), col("y.dst").as("b")).distinct()
        val p2 = c2.join(p1.select(col("a").as("_a"), col("b").as("_b")),
                         col("a") === col("_a") && col("b") === col("_b"),
                         "left_anti")
        val c3 = p2.alias("f")
          .join(e.alias("z"), col("f.b") === col("z.src"))
          .filter(col("f.a") =!= col("z.dst"))
          .select(col("f.a").as("a"), col("z.dst").as("b")).distinct()
        val p3 = c3
          .join(p1.select(col("a").as("_a1"), col("b").as("_b1")),
                col("a") === col("_a1") && col("b") === col("_b1"),
                "left_anti")
          .join(p2.select(col("a").as("_a2"), col("b").as("_b2")),
                col("a") === col("_a2") && col("b") === col("_b2"),
                "left_anti")
        val layered = p1.select(col("a"), lit(6L).as("w"))
          .unionByName(p2.select(col("a"), lit(3L).as("w")))
          .unionByName(p3.select(col("a"), lit(2L).as("w")))
        layered.groupBy(col("a").as("s_suppkey"))
          .agg(count(lit(1)).as("n_reached"), sum(col("w")).as("h6"))
          .select(col("s_suppkey"), col("n_reached"), col("h6"),
                  graft.Determinism.intRatio4(col("h6") * 10000L, lit(6L))
                    .as("harmonic4"))
          .orderBy(col("s_suppkey"))
      },
      s"""WITH RECURSIVE $coSupplyEdgesSql,
        |p1 AS (SELECT src AS a, dst AS b FROM e),
        |c2 AS (
        |  SELECT DISTINCT x.src AS a, y.dst AS b
        |  FROM e x JOIN e y ON x.dst = y.src
        |  WHERE x.src <> y.dst),
        |p2 AS (
        |  SELECT * FROM c2 WHERE NOT EXISTS (
        |    SELECT 1 FROM p1 WHERE p1.a = c2.a AND p1.b = c2.b)),
        |c3 AS (
        |  SELECT DISTINCT f.a, z.dst AS b
        |  FROM p2 f JOIN e z ON f.b = z.src
        |  WHERE f.a <> z.dst),
        |p3 AS (
        |  SELECT * FROM c3 WHERE NOT EXISTS (
        |    SELECT 1 FROM p1 WHERE p1.a = c3.a AND p1.b = c3.b)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM p2 WHERE p2.a = c3.a AND p2.b = c3.b)),
        |layered AS (
        |  SELECT a, 6 AS w FROM p1
        |  UNION ALL SELECT a, 3 AS w FROM p2
        |  UNION ALL SELECT a, 2 AS w FROM p3)
        |SELECT a AS s_suppkey, COUNT(*) AS n_reached,
        |  CAST(SUM(w) AS BIGINT) AS h6,
        |  CAST((2*(CAST(SUM(w) AS BIGINT)*10000) + 6) // 12 AS DOUBLE)
        |    / 10000.0 AS harmonic4
        |FROM layered GROUP BY a ORDER BY a""".stripMargin),

    Q(
      // Local clustering coefficient: tri(v) / C(deg(v), 2) — how close
      // each supplier's co-supply neighborhood is to a clique, the
      // per-node companion of the global triangle count (Watts-Strogatz
      // local C). Reuses api.Graph.triangleCounts (degree-oriented
      // wedge join — every wedge materialized exactly once, never the
      // naive neighbor×neighbor blowup) and the degree map the count
      // already needs; nodes with deg < 2 have no defined coefficient
      // and are excluded BEFORE the ratio (intRatio4 raises on den ≤ 0
      // by contract). The ratio lands on the exact 1e-4 grid via
      // half-up integral division — tri·2·10⁴ / (deg·(deg−1)) stays
      // far inside long range for any physical degree.
      "q_graph_clustering_coeff",
      (s, d) => {
        val e = coSupplyEdges(s, d)
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val tri = graft.api.Graph.triangleCounts(e)
        deg.filter(col("deg") >= 2)
          .join(tri, col("src") === col("node"), "left_outer")
          .select(col("src").as("s_suppkey"), col("deg"),
                  coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
          .withColumn("lcc4",
            graft.Determinism.intRatio4(
              col("tri_cnt") * 20000L,
              col("deg") * (col("deg") - 1)))
          .orderBy(col("s_suppkey"))
      },
      s"""WITH $coSupplyEdgesSql,
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |o AS (
        |  SELECT e.src AS u, e.dst AS v
        |  FROM e JOIN deg a ON a.src = e.src JOIN deg b ON b.src = e.dst
        |  WHERE a.d < b.d OR (a.d = b.d AND e.src < e.dst)),
        |tri AS (
        |  SELECT o1.u AS a, o1.v AS b, o2.v AS c
        |  FROM o o1 JOIN o o2 ON o2.u = o1.v
        |  WHERE EXISTS (SELECT 1 FROM o o3
        |                WHERE o3.u = o1.u AND o3.v = o2.v)),
        |n AS (SELECT a AS s FROM tri UNION ALL
        |      SELECT b FROM tri UNION ALL
        |      SELECT c FROM tri),
        |tc AS (SELECT s, COUNT(*) AS tri_cnt FROM n GROUP BY s)
        |SELECT deg.src AS s_suppkey, CAST(deg.d AS BIGINT) AS deg,
        |  CAST(COALESCE(tc.tri_cnt, 0) AS BIGINT) AS tri_cnt,
        |  CAST((2*(COALESCE(tc.tri_cnt, 0)*20000) + deg.d*(deg.d-1))
        |       // (2*(deg.d*(deg.d-1))) AS DOUBLE) / 10000.0 AS lcc4
        |FROM deg LEFT JOIN tc ON tc.s = deg.src
        |WHERE deg.d >= 2
        |ORDER BY s_suppkey""".stripMargin),

    Q(
      // Bounded 3-core peel: api.Graph.kCore with maxRounds = 3 —
      // three passes of "drop every vertex of degree < 3, restrict the
      // edge set, recompute". The dense-subgraph primitive (spam-farm /
      // crawl-clique detection); bounding the rounds is what makes the
      // iterative Spark loop hash-matchable against a FINITELY-unrolled
      // SQL oracle at any SF (the fixpoint variant stays ScalaTest-
      // covered — ApiSpec's chain-cascade cases). Each round is one
      // vertex hash-agg + two LEFT SEMI joins on the vertex key; the
      // oracle canonicalizes the symmetric edge set to src < dst
      // exactly like the API does.
      "q_graph_kcore",
      (s, d) => graft.api.Graph
        .kCore(coSupplyEdges(s, d), "src", "dst", k = 3, maxRounds = 3)
        .select(col("node").as("s_suppkey"), col("deg"))
        .orderBy(col("s_suppkey")),
      // every peel level is AS MATERIALIZED: c_{i+1} references c_i
      // three times (itself + the two k_i membership subqueries), so
      // an inlining planner re-expands the whole prefix ~3^depth
      // times — the r6 sf1 oracle run OOM'd DuckDB at 84 GiB on this
      // exact query until the CTEs were pinned to evaluate once
      s"""WITH $coSupplyEdgesSql,
        |c0 AS MATERIALIZED (SELECT src, dst FROM e WHERE src < dst),
        |d0 AS (SELECT v, COUNT(*) AS d FROM (
        |         SELECT src AS v FROM c0
        |         UNION ALL SELECT dst FROM c0) GROUP BY v),
        |k0 AS MATERIALIZED (SELECT v FROM d0 WHERE d >= 3),
        |c1 AS MATERIALIZED (SELECT * FROM c0
        |       WHERE src IN (SELECT v FROM k0)
        |         AND dst IN (SELECT v FROM k0)),
        |d1 AS (SELECT v, COUNT(*) AS d FROM (
        |         SELECT src AS v FROM c1
        |         UNION ALL SELECT dst FROM c1) GROUP BY v),
        |k1 AS MATERIALIZED (SELECT v FROM d1 WHERE d >= 3),
        |c2 AS MATERIALIZED (SELECT * FROM c1
        |       WHERE src IN (SELECT v FROM k1)
        |         AND dst IN (SELECT v FROM k1)),
        |d2 AS (SELECT v, COUNT(*) AS d FROM (
        |         SELECT src AS v FROM c2
        |         UNION ALL SELECT dst FROM c2) GROUP BY v),
        |k2 AS MATERIALIZED (SELECT v FROM d2 WHERE d >= 3),
        |c3 AS MATERIALIZED (SELECT * FROM c2
        |       WHERE src IN (SELECT v FROM k2)
        |         AND dst IN (SELECT v FROM k2))
        |SELECT v AS s_suppkey, COUNT(*) AS deg FROM (
        |  SELECT src AS v FROM c3
        |  UNION ALL SELECT dst FROM c3) GROUP BY v
        |ORDER BY s_suppkey""".stripMargin),

    Q(
      // Deterministic random walks (node2vec/DeepWalk corpus
      // generation): one length-3 walk per start node, next hop =
      // the md5-uniform-ranked neighbor — hash(walker, step) mod
      // degree picks the index into the dst-sorted adjacency list, so
      // the walk corpus is REPLAYABLE on any cluster at any
      // partitioning (a PRNG walk could never pass a hash gate, and
      // could never be audited). Each step is one equi-join of the
      // frontier against the (src, rank)-keyed adjacency — the BFS
      // shape with a computed rank key; 3 unrolled steps, edges
      // ranked once.
      "q_graph_random_walk",
      (s, d) => {
        val e = coSupplyEdges(s, d)
        val wAdj = org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("dst"))
        val adj = e.withColumn("rn", row_number().over(wAdj).cast("long"))
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        def hop(cur: org.apache.spark.sql.DataFrame, t: Int) = {
          val idx = pmod(graft.api.Pipeline.hash16(
            concat(lit("w:"), col("start").cast("string"), lit(":"),
                   lit(t.toString))).cast("long"), col("_dg")) + 1
          cur.join(deg.select(col("src").as("_v"), col("deg").as("_dg")),
                   col("v") === col("_v"))
            .withColumn("_idx", idx)
            .join(adj.select(col("src").as("_a"), col("dst"),
                             col("rn").as("_rn")),
                  col("v") === col("_a") && col("_idx") === col("_rn"))
            .select(col("start"), col("path"), col("dst"))
            .withColumn("path",
              concat(col("path"), lit("->"), col("dst").cast("string")))
            .select(col("start"), col("path"),
                    col("dst").as("v"))
        }
        val start = e.select(col("src")).distinct()
          .select(col("src").as("start"),
                  col("src").cast("string").as("path"),
                  col("src").as("v"))
        val walked = (1 to 3).foldLeft(start)(hop)
        walked.select(col("start").as("s_suppkey"), col("path"))
          .orderBy(col("s_suppkey"))
      },
      {
        def idxSql(t: Int) =
          s"((${graft.ops.u16Sql(s"'w:' || CAST(c.start AS VARCHAR) || ':$t'")}) % dg.deg) + 1"
        def hopSql(prev: String, t: Int) =
          s"""w$t AS (
            |  SELECT c.start,
            |    c.path || '->' || CAST(a.dst AS VARCHAR) AS path,
            |    a.dst AS v
            |  FROM $prev c
            |  JOIN dg ON dg.src = c.v
            |  JOIN adj a ON a.src = c.v AND a.rn = ${idxSql(t)})"""
            .stripMargin
        s"""WITH $coSupplyEdgesSql,
          |adj AS (
          |  SELECT src, dst,
          |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
          |  FROM e),
          |dg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
          |w0 AS (
          |  SELECT src AS start, CAST(src AS VARCHAR) AS path, src AS v
          |  FROM (SELECT DISTINCT src FROM e)),
          |${hopSql("w0", 1)},
          |${hopSql("w1", 2)},
          |${hopSql("w2", 3)}
          |SELECT start AS s_suppkey, path FROM w3
          |ORDER BY s_suppkey""".stripMargin
      }),

    Q(
      // Modularity Q of the 2-round LPA communities — the score that
      // says whether a community partition beats random wiring
      // (Newman-Girvan): Q = Σ_c [within_c/2m − (d_c/2m)²], assembled
      // from EXACT integers (within-community directed edge counts,
      // community degree sums, 2m = |directed edges|) with the single
      // double division at the end — the eval metric the LPA operator
      // was missing (detect → q_graph_lpa, score → here, same labels
      // by construction). Label join twice on the edge list, two
      // community-sized hash-aggs.
      "q_graph_modularity",
      (s, d) => {
        val e = coSupplyEdges(s, d)
        val lbl = graft.api.Graph.labelPropagation(s, e, iterations = 2)
        val within = e
          .join(lbl.select(col("node").as("_s"), col("label").as("la")),
                col("src") === col("_s"))
          .join(lbl.select(col("node").as("_t"), col("label").as("lb")),
                col("dst") === col("_t"))
          .filter(col("la") === col("lb"))
          .groupBy(col("la")).agg(count(lit(1)).as("win"))
        val degC = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
          .join(lbl.select(col("node").as("_n"), col("label").as("lc")),
                col("src") === col("_n"))
          .groupBy(col("lc")).agg(sum(col("dg")).as("dc"))
        val m2 = e.agg(count(lit(1)).as("m2"))  // = 2m
        val parts = degC
          .join(within, col("lc") === col("la"), "left_outer")
          .agg(count(lit(1)).as("n_communities"),
               sum(coalesce(col("win"), lit(0L)).cast(D38)).as("sw"),
               sum((col("dc").cast(D38) * col("dc").cast(D38)).cast(D38))
                 .as("sd2"))
        parts.crossJoin(broadcast(m2))
          .select(col("n_communities"),
                  (col("m2") / 2).cast("long").as("m_edges"),
                  graft.Determinism.r4(
                    (col("m2").cast(D38) * col("sw") - col("sd2"))
                       .cast("double") /
                     (col("m2").cast("double") * col("m2"))).as("q4"))
      },
      {
        def round(prev: String, out: String): String =
          s"""v$out AS (
            |  SELECT e.src, l.lab, COUNT(*) AS c
            |  FROM e JOIN l$prev l ON l.node = e.dst
            |  GROUP BY e.src, l.lab),
            |w$out AS (
            |  SELECT src AS node, lab FROM (
            |    SELECT src, lab, row_number() OVER (PARTITION BY src
            |      ORDER BY c DESC, lab ASC) AS rn FROM v$out)
            |  WHERE rn = 1),
            |l$out AS (
            |  SELECT p.node, COALESCE(w.lab, p.lab) AS lab
            |  FROM l$prev p LEFT JOIN w$out w ON w.node = p.node)"""
            .stripMargin
        s"""WITH $coSupplyEdgesSql,
          |nodes AS (
          |  SELECT src AS node FROM e UNION SELECT dst FROM e),
          |l0 AS (SELECT node, node AS lab FROM nodes),
          |${round("0", "1")},
          |${round("1", "2")},
          |win AS (
          |  SELECT a.lab AS la, COUNT(*) AS win
          |  FROM e JOIN l2 a ON a.node = e.src
          |         JOIN l2 b ON b.node = e.dst
          |  WHERE a.lab = b.lab GROUP BY a.lab),
          |degc AS (
          |  SELECT l2.lab AS lc, CAST(SUM(dg.dg) AS HUGEINT) AS dc
          |  FROM (SELECT src, COUNT(*) AS dg FROM e GROUP BY src) dg
          |  JOIN l2 ON l2.node = dg.src
          |  GROUP BY l2.lab),
          |m2 AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM e),
          |parts AS (
          |  SELECT COUNT(*) AS n_communities,
          |    CAST(SUM(COALESCE(win.win, 0)) AS HUGEINT) AS sw,
          |    SUM(degc.dc * degc.dc) AS sd2
          |  FROM degc LEFT JOIN win ON degc.lc = win.la)
          |SELECT n_communities,
          |  CAST(m2.m2 // 2 AS BIGINT) AS m_edges,
          |  round(CAST(m2.m2 * parts.sw - parts.sd2 AS DOUBLE)
          |        / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)), 4)
          |    + 0 AS q4
          |FROM parts, m2""".stripMargin
      })
  )
}
