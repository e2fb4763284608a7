package graft.ops

import org.apache.spark.sql.functions._
import graft.io.Tables

/** SURVEY §2.1 — scans (sources/sinks without an oracle are exercised by
  * the harness itself / ScalaTest).
  *
  * Scale notes: q_scan_prune / q_scan_pred_pushdown exist to prove the
  * plan properties that dominate 100 TB cost: `ReadSchema` carrying only
  * the projected columns and `PushedFilters` reaching the parquet reader
  * (row-group skipping). Verified via .explain in ScanSpec.
  */
object Scans extends OpGroup {

  def qs: Seq[Q] = Seq(
    Q(
      "q_scan_full",
      (s, d) => Tables.nation(s, d).orderBy(col("n_nationkey")),
      "SELECT * FROM nation ORDER BY n_nationkey"),

    Q(
      "q_scan_prune",
      (s, d) => Tables.part(s, d)
        .select(col("p_partkey"), col("p_size"))
        .orderBy(col("p_partkey")),
      "SELECT p_partkey, p_size FROM part ORDER BY p_partkey"),

    Q(
      "q_scan_pred_pushdown",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_quantity") < 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        // (l_orderkey, l_linenumber) is NOT unique in the fixture —
        // R1 requires ordering by the full output row
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin),

    Q(
      // Z-order (Morton) curve value (io.Writers.zvalue — the key
      // Writers.zordered clusters by so row-group stats prune on ANY
      // interleaved dimension): 8-bit customer bucket × 8-bit
      // order-value bucket. Pure integer shifts/masks, so the oracle
      // replays the interleave bit-exactly with `>>`/`&`/`<<`; the
      // LAYOUT effect (per-file locality on both dims vs a single-dim
      // sort) is measured in ScaleSpec.
      "q_layout_zvalue",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
                graft.io.Writers.zvalue(Seq(
                  col("o_custkey") % 256,
                  least(floor(col("o_totalprice") / 2000.0).cast("long"),
                        lit(255L))), bits = 8).as("zv"))
        .orderBy(col("o_orderkey")), {
        val x = "(o_custkey % 256)"
        val y = "LEAST(CAST(floor(o_totalprice / 2000.0) AS BIGINT), 255)"
        val terms =
          (0 until 8).map(i => s"((($x >> $i) & 1) << ${2 * i})") ++
          (0 until 8).map(i => s"((($y >> $i) & 1) << ${2 * i + 1})")
        s"""SELECT o_orderkey, ${terms.mkString(" + ")} AS zv
          |FROM orders ORDER BY o_orderkey""".stripMargin
      }),

    Q(
      // Zone-map (min/max data-skipping) effectiveness audit — the
      // layout decision a 100 TB table lives or dies by, measured
      // WITHOUT rewriting the table: synthesize "files" under two
      // layouts (date-clustered: 32-day blocks; insert-order: 2048-key
      // orderkey blocks), compute each block's shipdate min/max zone
      // map, and report how many blocks a Q1 1997 date predicate
      // prunes plus the read amplification (rows scanned per row
      // matched) the surviving blocks imply. Date-clustered zone maps
      // are tight by construction → near-1 amplification; insert-order
      // blocks span the full date range → ~0 pruning. Pure integer
      // epoch-day arithmetic; two corpus hash-aggs (one per layout),
      // block frames tiny after.
      "q_layout_minmax_prune",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          graft.Determinism.epochDay("l_shipdate").as("day"),
          col("l_orderkey"))
        // epoch days: 1997-01-01 = 9862 (27y + 7 leap), 1997-03-01 =
        // 9862 + 31 + 28 (1997 not leap)
        val d1 = lit(9862L)
        val d2 = lit(9921L)
        def audit(layout: String, blk: org.apache.spark.sql.Column) = {
          val pruned = col("mx") < d1 || col("mn") >= d2
          li.withColumn("blk", blk)
            .groupBy(col("blk"))
            .agg(min(col("day")).as("mn"), max(col("day")).as("mx"),
                 count(lit(1)).as("nr"),
                 sum(when(col("day") >= d1 && col("day") < d2, 1L)
                   .otherwise(0L)).as("nm"))
            .agg(count(lit(1)).as("n_blocks"),
                 sum(when(pruned, 1L).otherwise(0L)).as("n_pruned"),
                 sum(col("nr")).as("rows_total"),
                 sum(when(pruned, 0L).otherwise(col("nr")))
                   .as("rows_scanned"),
                 sum(col("nm")).as("rows_matched"))
            .select(lit(layout).as("layout"), col("n_blocks"),
                    col("n_pruned"), col("rows_total"),
                    col("rows_scanned"), col("rows_matched"),
                    graft.Determinism.intRatio4Wide(
                      col("rows_scanned") * 10000L,
                      col("rows_matched")).as("read_amp4"))
        }
        audit("date_clustered",
              graft.Determinism.ldiv(col("day"), lit(32L)))
          .unionByName(audit("insert_order",
              graft.Determinism.ldiv(col("l_orderkey"), lit(2048L))))
          .orderBy(col("layout"))
      },
      {
        def auditSql(layout: String, blk: String) =
          s"""SELECT '$layout' AS layout, COUNT(*) AS n_blocks,
            |  CAST(SUM(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT)
            |    AS n_pruned,
            |  CAST(SUM(nr) AS BIGINT) AS rows_total,
            |  CAST(SUM(CASE WHEN pruned THEN 0 ELSE nr END) AS BIGINT)
            |    AS rows_scanned,
            |  CAST(SUM(nm) AS BIGINT) AS rows_matched,
            |  CAST((2*(CAST(SUM(CASE WHEN pruned THEN 0 ELSE nr END)
            |             AS HUGEINT)*10000)
            |        + CAST(SUM(nm) AS HUGEINT))
            |       // (2*CAST(SUM(nm) AS HUGEINT)) AS DOUBLE) / 10000.0
            |    AS read_amp4
            |FROM (
            |  SELECT mn, mx, nr, nm,
            |    (mx < 9862 OR mn >= 9921) AS pruned
            |  FROM (
            |    SELECT $blk AS blk, MIN(day) AS mn, MAX(day) AS mx,
            |      COUNT(*) AS nr,
            |      SUM(CASE WHEN day >= 9862 AND day < 9921
            |          THEN 1 ELSE 0 END) AS nm
            |    FROM li GROUP BY $blk))"""
            .stripMargin
        s"""WITH li AS (
          |  SELECT epoch_us(l_shipdate) // 86400000000 AS day,
          |    l_orderkey
          |  FROM lineitem)
          |SELECT * FROM (
          |${auditSql("date_clustered", "day // 32")}
          |UNION ALL
          |${auditSql("insert_order", "l_orderkey // 2048")})
          |ORDER BY layout""".stripMargin
      })
  )
}
