package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** The sf-multiplier's replication invariants (SCALE.md round 5): the
  * manufactured sf×N data must be a SCALED corpus, not a denser one —
  * disjoint key spaces, disjoint shingle spaces, exactly-preserved
  * within-replica similarity, decorrelated cross-replica vectors. A
  * violation here silently turns the scaling sweep into a different
  * workload (identical doc copies = ×N² pair counts). */
class ScaleUpSpec extends SparkSpec {
  import spark.implicits._

  private lazy val out: String = {
    val dir = tmpDir("scaleup") + "/sf3"
    ScaleUp.run(spark, "/root/testdata/sf0.001", dir, 3)
    dir
  }

  test("row counts: facts x3, fixed domain tables x1, FK joins stay 1:1") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(docs.count() == 3 * base.count())
    assert(spark.read.parquet(s"$out/region.parquet").count() == 5)
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$out/orders.parquet")
    // every lineitem still has exactly one order (offsets consistent)
    assert(li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() == 0)
  }

  test("document replicas have disjoint shingle spaces, honest n_chars") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    // replica 1 words carry the _r1 suffix -> no trigram can collide
    // with replica 0 (which is the untouched original)
    val r1 = docs.filter(col("doc_id") >= 10000000L &&
                         col("doc_id") < 20000000L)
    assert(r1.filter(!col("text").contains("_r1")).count() == 0)
    val r0 = docs.filter(col("doc_id") < 10000000L)
    assert(r0.filter(col("text").contains("_r1")).count() == 0)
    // n_chars recomputed from the rewritten text, not copied
    assert(docs.filter(length(col("text")).cast("long") =!= col("n_chars"))
      .count() == 0)
  }

  test("word suffixing survives doubled spaces: no bare _rk tokens") {
    // "a  b" splits to ["a", "", "b"] — the empty token must stay
    // empty, so replica k's token/shingle structure is exactly replica
    // 0's with the _rk suffix, whatever the whitespace normalization
    val got = Seq("a  b", " lead", "trail ", "x").toDF("text")
      .select(ScaleUp.suffixWords(col("text"), 2).as("t"))
      .as[String].collect().toSeq
    assert(got == Seq("a_r2  b_r2", " lead_r2", "trail_r2 ", "x_r2"),
      s"empty split tokens must not become bare _rk words: $got")
  }

  test("embedding sign-flip preserves within-replica dot products exactly") {
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().toMap
    val base = emb.keys.filter(_ < 10000000L).toSeq.sorted.take(4)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    for (Seq(i, j) <- base.combinations(2)) {
      val d0 = dot(emb(i), emb(j))
      // replica 2: both sides flipped by the SAME per-dim pattern ->
      // s_d^2 = 1 -> the product is bit-identical, similarity EXACT
      val d2 = dot(emb(i + 20000000L), emb(j + 20000000L))
      assert(d0 == d2, s"within-replica dot drifted: $d0 vs $d2 ($i,$j)")
    }
    // cross-replica: the flip decorrelates (|cos| well under the
    // within-replica self-similarity of 1)
    val self = base.head
    val dSelf = dot(emb(self), emb(self))
    val dCross = math.abs(dot(emb(self), emb(self + 20000000L)))
    assert(dCross < dSelf * 0.8,
      s"cross-replica vectors should decorrelate: |$dCross| vs $dSelf")
  }

  test("an unknown mode is rejected before a session or a file exists") {
    val dir = tmpDir("scaleup-mode") + "/out"
    val e = intercept[IllegalArgumentException](
      ScaleUp.main(Array(sfDir, dir, "3", "diverse")))
    assert(e.getMessage.contains("'diverse'"), e.getMessage)
    assert(!Files.exists(Paths.get(dir)), s"ScaleUp wrote under $dir")
    // the main never reached its session, so it never stopped ours
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3L)
  }

  // ---------------- DIVERSITY mode (round 8, VERDICT r7 #3) ----------------
  // Pure replication SATURATES derived value domains (distinct scores,
  // distinct cents): 10x data adds zero new values, which is exactly
  // what hid the r6 eval_lift corpus-growing-domain weakness. Diversity
  // mode's deterministic word-drop/duplication + sub-dollar money
  // jitter make those domains GROW with the corpus, so domain-growth
  // scale bugs become visible in the sf1/sf10 sweeps.

  private lazy val outDiv: String = {
    val dir = tmpDir("scaleup-div") + "/sf3d"
    ScaleUp.run(spark, "/root/testdata/sf0.001", dir, 3, diversity = true)
    dir
  }

  /** The exact-integer 1e-4 quality-score grid cell (the q_eval_lift
    * block key) — the canonical replication-saturated domain. */
  private def scoreCells(dir: String): Long = {
    val w = split(col("text"), " ")
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("n_chars").cast("long").as("_c"),
              size(w).cast("long").as("_t"),
              size(filter(w, t => t === "the" || t === "a"))
                .cast("long").as("_s"))
      .withColumn("_num",
        lit(8L) * least(col("_c"), lit(500L)) * col("_t") +
        lit(3000L) * (col("_t") - col("_s")) +
        lit(375L) * least(col("_c") - col("_t") + lit(1L),
                          lit(8L) * col("_t")))
      .select(expr("(2 * _num + _t) div (2 * _t)").as("cell"))
      .agg(countDistinct(col("cell"))).as[Long].head()
  }

  test("diversity: replica 0 is byte-untouched; classic invariants hold") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val r0 = spark.read.parquet(s"$outDiv/documents.parquet")
      .filter(col("doc_id") < 10000000L).select(col("doc_id"), col("text"))
    assert(r0.exceptAll(base).count() == 0 && base.exceptAll(r0).count() == 0)
    // FK joins still 1:1 under jitter+offset
    val li = spark.read.parquet(s"$outDiv/lineitem.parquet")
    val ord = spark.read.parquet(s"$outDiv/orders.parquet")
    assert(li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .count() == 0)
    // n_chars recomputed from the REWRITTEN text
    val docs = spark.read.parquet(s"$outDiv/documents.parquet")
    assert(docs.filter(length(col("text")).cast("long") =!= col("n_chars"))
      .count() == 0)
  }

  test("diversity: derived value domains GROW; classic mode saturates") {
    val cells0 = scoreCells("/root/testdata/sf0.001")
    val cellsClassic = scoreCells(out)     // x3 classic replication
    val cellsDiv = scoreCells(outDiv)      // x3 diversity
    // diversity must grow the score domain substantially with the
    // corpus, and strictly beyond classic replication (classic DOES
    // drift scores somewhat — the _rk suffix lengthens words — but
    // diversity's per-doc token drops/dups spread them further)
    assert(cellsDiv > cells0 * 2 && cellsDiv > cellsClassic,
      s"diversity mode failed to grow the score domain: " +
      s"$cells0 -> div $cellsDiv (classic: $cellsClassic)")
    // the money domains are where classic replication saturates
    // EXACTLY (suffixing never touches a price): diversity must break
    // that, because saturated cent domains are what kept the
    // mannwhitney/median_ci/ks "bounded price book" frames constant
    // under the old x10/x100 sweeps
    def cents(dir: String): Long =
      spark.read.parquet(s"$dir/orders.parquet")
        .select((col("o_totalprice").cast(
          org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("c"))
        .agg(countDistinct(col("c"))).as[Long].head()
    val c0 = cents("/root/testdata/sf0.001")
    val cClassic = cents(out); val cd = cents(outDiv)
    assert(cClassic == c0,
      s"classic replication should saturate the cents domain exactly: " +
      s"$c0 -> $cClassic")
    assert(cd > c0 * 9 / 5,
      s"diversity mode failed to grow the cents domain: $c0 -> $cd")
  }

  test("diversity: money jitter is deterministic, sub-dollar, exact cents") {
    val base = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey").as("k0"),
              (col("o_totalprice").cast(
                org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
                .cast("long").as("c0"))
    val r1 = spark.read.parquet(s"$outDiv/orders.parquet")
      .filter(col("o_orderkey") >= 100000000L &&
              col("o_orderkey") < 200000000L)
      .select((col("o_orderkey") - 100000000L).as("k1"),
              (col("o_totalprice").cast(
                org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
                .cast("long").as("c1"))
    val joined = base.join(r1, col("k0") === col("k1"))
      .select((col("c1") - col("c0")).as("d"))
    assert(joined.filter(col("d") < 0 || col("d") > 99).count() == 0,
      "jitter must stay within [0, 99] cents")
    // and it actually moves a substantial share of rows (h % 100 == 0
    // leaves ~1% unchanged)
    val moved = joined.filter(col("d") =!= 0).count()
    assert(moved > joined.count() * 9 / 10)
  }
}
