package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Direct unit coverage for Determinism.distCumSumsBy (round-10 task:
  * it carries seven statistics — spearman, median_ci, mannwhitney, ks,
  * gini, abc, pareto_share — but was verified only end-to-end through
  * the oracle gates; a refactor should be caught at compile-adjacent
  * cost, not by a full DuckDB sweep).
  *
  * The oracle here is PLAIN SCALA: sort the collected rows by the
  * composite key lexicographically and running-sum each count column —
  * never a Spark window, so the test is independent of everything the
  * implementation touches. Exact-long equality, no tolerance.
  */
class DistCumSumsSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  /** Build a DataFrame of DISTINCT composite keys (v1, v2) with count
    * columns c1, c2 — v1 deliberately collides across rows (ties in
    * the leading key) and spans negatives (the abc/pareto "order by
    * value DESC via negation" shape). */
  private def frame(n: Int, seed: Long, skewTies: Int) = {
    val rnd = new scala.util.Random(seed)
    val keys = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    while (keys.size < n)
      keys += ((rnd.nextInt(skewTies).toLong - skewTies / 2,
                rnd.nextInt(4 * n).toLong))
    val rows = keys.toSeq.map { case (v1, v2) =>
      Row(v1, v2, rnd.nextInt(1000).toLong + 1, rnd.nextInt(50).toLong)
    }
    val schema = StructType(Seq(
      StructField("v1", LongType, nullable = false),
      StructField("v2", LongType, nullable = false),
      StructField("c1", LongType, nullable = false),
      StructField("c2", LongType, nullable = false)))
    (spark.createDataFrame(rows.asJava, schema),
     keys.toSeq.zip(rows.map(r => (r.getLong(2), r.getLong(3)))))
  }

  /** Plain-Scala prefix sums in (v1, v2) lexicographic order. */
  private def oracle(data: Seq[((Long, Long), (Long, Long))])
      : Map[(Long, Long), (Long, Long, Long, Long)] = {
    val sorted = data.sortBy(_._1)
    val tot1 = sorted.map(_._2._1).sum
    val tot2 = sorted.map(_._2._2).sum
    var r1 = 0L; var r2 = 0L
    sorted.map { case (k, (c1, c2)) =>
      r1 += c1; r2 += c2
      k -> (r1, tot1, r2, tot2)
    }.toMap
  }

  private def check(n: Int, seed: Long, skewTies: Int, parts: Int)
      : Unit = {
    val (df, data) = frame(n, seed, skewTies)
    val exp = oracle(data)
    val got = Determinism
      .distCumSumsBy(df, Seq("v1", "v2"), Seq("c1", "c2"), parts)
      .select("v1", "v2", "cum_c1", "tot_c1", "cum_c2", "tot_c2")
      .collect()
    Bench.release(spark)
    assert(got.length == n, s"row count: ${got.length} != $n")
    got.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      val e = exp(k)
      val g = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(g == e,
        s"(n=$n seed=$seed ties=$skewTies parts=$parts) key $k: " +
        s"got $g expected $e")
    }
  }

  test("distCumSumsBy ≡ plain-Scala prefix sums: random frames with " +
       "ties and negatives, parts ∈ {1, 2, 64}") {
    for {
      parts <- Seq(1, 2, 64)
      (n, seed, ties) <- Seq((1, 42L, 3), (7, 1L, 2), (200, 7L, 5),
                             (500, 99L, 11), (1000, 123L, 997))
    } check(n, seed, ties, parts)
  }

  test("distCumSumsBy: single count column over a negated-value " +
       "ordering key (the abc/pareto rank shape)") {
    val rnd = new scala.util.Random(4242L)
    val vals = (1L to 300L).map(id =>
      (-(rnd.nextInt(40).toLong + 1), id, rnd.nextInt(9999).toLong))
    import spark.implicits._
    val df = vals.toDF("negrev", "pk", "rev")
    val got = Determinism
      .distCumSumsBy(df, Seq("negrev", "pk"), Seq("rev"), 64)
      .select("negrev", "pk", "cum_rev", "tot_rev").collect()
    Bench.release(spark)
    val sorted = vals.sortBy(v => (v._1, v._2))
    val tot = vals.map(_._3).sum
    val exp = sorted.scanLeft(0L)(_ + _._3).tail
      .zip(sorted).map { case (cum, (nr, pk, _)) => (nr, pk) -> cum }
      .toMap
    got.foreach { r =>
      assert(r.getLong(2) == exp((r.getLong(0), r.getLong(1))) &&
             r.getLong(3) == tot,
        s"key (${r.getLong(0)},${r.getLong(1)}): got " +
        s"(${r.getLong(2)},${r.getLong(3)}) expected " +
        s"(${exp((r.getLong(0), r.getLong(1)))},$tot)")
    }
  }

  test("distCumSumsBy is input-partitioning-invariant: same rows, " +
       "different incoming layout ⇒ identical output") {
    val (df, _) = frame(400, 2026L, 7)
    def run(d: org.apache.spark.sql.DataFrame) = {
      val out = Determinism
        .distCumSumsBy(d, Seq("v1", "v2"), Seq("c1", "c2"), 64)
        .select("v1", "v2", "cum_c1", "tot_c1", "cum_c2", "tot_c2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                             r.getLong(3), r.getLong(4), r.getLong(5)))
        .sortBy(t => (t._1, t._2)).toSeq
      Bench.release(spark)
      out
    }
    val a = run(df.coalesce(1))
    val b = run(df.repartition(13, col("c1")))
    val c = run(df.repartitionByRange(5, col("v2"))) // wrong-key range
    assert(a == b && b == c,
      "distCumSumsBy output depends on the INPUT partitioning")
  }

  test("cache-release contract: a sweep of distCumSumsBy consumers " +
       "leaves no pinned frames behind, and the pin count is bounded " +
       "even without release") {
    Bench.release(spark) // clean slate from earlier suites
    val before = spark.sparkContext.getPersistentRDDs.size
    // 7 calls with NO explicit release: the internal MaxPinned bound
    // must hold the pinned-frame count at ≤ 4 (round-10 advisory:
    // a 391-query session must not accumulate unbounded storage)
    for (seed <- 1 to 7) {
      val (df, _) = frame(50, seed.toLong, 3)
      Determinism.distCumSumsBy(df, Seq("v1", "v2"), Seq("c1"), 8)
        .agg(max(col("cum_c1"))).collect()
    }
    val pinned = spark.sparkContext.getPersistentRDDs.size - before
    assert(pinned <= 4, s"unbounded pin growth: $pinned frames cached")
    // the harness-loop contract (Verify/Bench sweep per query): the
    // sweep drops every pin
    Bench.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the harness sweep left pinned frames behind")
    // correctness after release: unpersist is recompute, not staleness
    val (df, data) = frame(120, 77L, 4)
    val out = Determinism
      .distCumSumsBy(df, Seq("v1", "v2"), Seq("c1", "c2"), 8)
    val exp = oracle(data)
    out.select("v1", "v2", "cum_c1").collect().foreach { r =>
      assert(r.getLong(2) == exp((r.getLong(0), r.getLong(1)))._1)
    }
    Bench.release(spark)
  }
}
