package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Custom Catalyst surface: the DotF32 native expression and the
  * WordNgrams generator — null handling, edge cases, and interpreted vs
  * codegen agreement (both paths must yield bit-identical doubles, since
  * oracle-checked queries rely on the fold order). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("dot_f32 computes the sequential double fold exactly") {
    val df = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.selectExpr("dot_f32(a, b) AS d").head().getDouble(0)
    assert(got == (4.0 + 10.0 + 18.0))
  }

  test("dot_f32 and l2sq_i64 take exactly two arguments, else fail naming the function") {
    val df = Seq((Seq(1.0f), Seq(2.0f), Seq(1L), Seq(2L))).toDF("a", "b", "x", "y")
    for ((fn, args) <- Seq("dot_f32" -> Seq("a", "b"), "l2sq_i64" -> Seq("x", "y"));
         call <- Seq(args.take(1), args :+ args.head)) {
      val e = intercept[Exception](
        df.selectExpr(s"$fn(${call.mkString(", ")}) AS d").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(s"$fn(a, b) takes two arguments")),
        s"$fn(${call.mkString(", ")}): ${msgs.mkString(" / ")}")
    }
  }

  test("dot_f32 agrees bit-for-bit with the lambda formulation") {
    val e = graft.io.Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), col("embedding"))
    val both = e.selectExpr(
      "vec_id",
      "dot_f32(embedding, embedding) AS fused",
      """aggregate(zip_with(embedding, embedding,
        | (x, y) -> cast(x as double) * cast(y as double)),
        | 0D, (acc, z) -> acc + z) AS lambda""".stripMargin)
    val bad = both.filter(col("fused") =!= col("lambda")).count()
    assert(bad == 0)
  }

  test("dot_f32 interpreted eval matches codegen result") {
    val df = Seq((Seq(0.1f, -0.2f, 0.3f, 1.5f), Seq(2.5f, 0.4f, -1.1f, 0.7f)))
      .toDF("a", "b")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp =
      try df.selectExpr("dot_f32(a, b)").head().getDouble(0)
      finally {
        // finally-restored: a throw must not leave the shared session
        // codegen-less for every later suite
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    val gen = df.selectExpr("dot_f32(a, b)").head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(interp) ==
      java.lang.Double.doubleToLongBits(gen))
  }

  test("dot_f32 is null-safe and handles length mismatch") {
    val df = Seq(
      (Some(Seq(1.0f)), None: Option[Seq[Float]]),
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f)))).toDF("a", "b")
    val rows = df.selectExpr("dot_f32(a, b) AS d").collect()
    assert(rows(0).isNullAt(0))       // null input -> null
    assert(rows(1).getDouble(0) == 3.0) // min-length semantics
  }

  test("intRatio4/Wide: 500 random ratios equal BigDecimal HALF_UP exactly") {
    import graft.Determinism.{intRatio4, intRatio4Wide}
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(500)((rnd.nextLong(2000001) - 1000000,
                               rnd.nextLong(999999) + 1))
    val df = cases.toDF("num", "den")
    val got = df.select(intRatio4(col("num"), col("den")).as("r"),
                        intRatio4Wide(col("num"), col("den")).as("rw"))
      .collect()
    cases.zip(got).foreach { case ((n, d), row) =>
      // the contract: round-half-AWAY-FROM-ZERO(num/den) in 1e-4 units
      // (java HALF_UP is half-away-from-zero), then ONE double divide
      val expect = java.math.BigDecimal.valueOf(n)
        .divide(java.math.BigDecimal.valueOf(d), 0,
                java.math.RoundingMode.HALF_UP)
        .doubleValue() / 10000.0
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(expect),
        s"intRatio4($n, $d): ${row.getDouble(0)} != $expect")
      assert(java.lang.Double.doubleToLongBits(row.getDouble(1)) ==
             java.lang.Double.doubleToLongBits(expect),
        s"intRatio4Wide($n, $d): ${row.getDouble(1)} != $expect")
    }
  }

  test("l2sq_i64: exact integer distance, lambda agreement, null/len rules") {
    val df = Seq((Seq(3L, -4L, 10000L), Seq(0L, 0L, 9999L))).toDF("a", "b")
    assert(df.selectExpr("l2sq_i64(a, b) AS d").head().getLong(0) == 26L)
    // agreement with the higher-order formulation it replaces
    val rnd = new scala.util.Random(7)
    val arrs = Seq.fill(20)((Seq.fill(16)(rnd.nextInt(100000).toLong),
                             Seq.fill(16)(rnd.nextInt(100000).toLong)))
      .toDF("a", "b")
    val pairs = arrs.selectExpr(
      "l2sq_i64(a, b) AS fused",
      """aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
        |          0L, (acc, v) -> acc + v) AS lambda""".stripMargin)
      .collect()
    pairs.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // interpreted eval matches codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp =
      try df.selectExpr("l2sq_i64(a, b)").head().getLong(0)
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    assert(interp == 26L)
    // null input -> null; mismatched lengths truncate to the shorter
    val edge = Seq(
      (Some(Seq(1L)), None: Option[Seq[Long]]),
      (Some(Seq(1L, 2L)), Some(Seq(3L)))).toDF("a", "b")
    val rows = edge.selectExpr("l2sq_i64(a, b) AS d").collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getLong(0) == 4L)
  }

  test("word_ngrams generates n-grams, drops nulls and short docs") {
    val df = Seq(Some("a b c d"), Some("x"), None)
      .toDF("text")
    val rows = df.selectExpr("word_ngrams(text, 3) AS g")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("a b c", "b c d")) // "x" too short, null skipped
  }

  test("word_ngrams composes with aggregation below other operators") {
    val n = Seq("a b a b").toDF("text")
      .selectExpr("word_ngrams(text, 2) AS g")
      .groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == Map("a b" -> 2L, "b a" -> 1L))
  }

  test("word_ngrams tokenizes real whitespace (runs, tabs, newlines)") {
    val rows = Seq("a  b\tc\nd ").toDF("text")
      .selectExpr("word_ngrams(text, 2) AS g")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("a b", "b c", "c d"))
  }

  test("word_ngrams n accepts any integral literal, rejects non-constants") {
    val df = Seq("a b c").toDF("text")
    val viaLong = df.selectExpr("word_ngrams(text, CAST(2 AS BIGINT)) AS g")
      .collect().map(_.getString(0)).toSeq
    assert(viaLong == Seq("a b", "b c"))
    val e = intercept[Exception](
      df.selectExpr("word_ngrams(text, length(text)) AS g").collect())
    assert(e.getMessage.contains("constant integer"), e.getMessage)
  }

  test("intRatio4 rounds half-up ON the boundary and mirrors negatives") {
    import graft.Determinism.{avgExact4, intRatio4, Money}
    val df = Seq(1).toDF("x")
    def one(c: org.apache.spark.sql.Column): Double =
      df.select(c.as("v")).head().getDouble(0)
    // the observed sf0.1 failure case: 378.03 / 8 = 47.25375 exactly —
    // round(x, 4) on the double disagreed across engines; the integer
    // formula must give half-up deterministically
    assert(one(avgExact4(lit(378.03).cast(Money), lit(8))) == 47.2538)
    // plain boundary in 1e-4 units: 15/10 = 1.5 -> 2 (half-up)
    assert(one(intRatio4(lit(15), lit(10))) == 0.0002)
    // negative numerator mirrors: -1.5 -> -2, never floor's -1
    assert(one(intRatio4(lit(-15), lit(10))) == -0.0002)
    // non-boundary sanity both signs
    assert(one(intRatio4(lit(14), lit(10))) == 0.0001)
    assert(one(intRatio4(lit(-14), lit(10))) == -0.0001)
  }

  test("intRatio4: den <= 0 raises (both engines fail identically)") {
    import graft.Determinism.{intRatio4, intRatio4Wide}
    val df = Seq(1).toDF("x")
    // DuckDB's `//` raises on a zero divisor; an unguarded Spark
    // IntegralDivide returns NULL — the guard makes misuse loud HERE too
    val e = intercept[Exception](
      df.select(intRatio4(lit(5), lit(0)).as("v")).collect())
    assert(e.getMessage.contains("den must be > 0"), e.getMessage)
    val e2 = intercept[Exception](
      df.select(intRatio4Wide(lit(5), lit(-1)).as("v")).collect())
    assert(e2.getMessage.contains("den must be > 0"), e2.getMessage)
  }

  test("intRatio4Wide matches intRatio4 in range and survives past 2^63") {
    import graft.Determinism.{intRatio4, intRatio4Wide}
    val df = Seq(1).toDF("x")
    def one(c: org.apache.spark.sql.Column): Double =
      df.select(c.as("v")).head().getDouble(0)
    // agreement on the long-domain boundary cases
    for ((n, d) <- Seq((15L, 10L), (-15L, 10L), (14L, 10L), (1L, 3L),
                       (999999L, 7L)))
      assert(one(intRatio4Wide(lit(n), lit(d))) ==
             one(intRatio4(lit(n), lit(d))), s"($n, $d)")
    // the ADVICE r3 overflow case: num = cents * 1e4 past 2^63.
    // share = 0.5 of a $1.5e15 total — num = 7.5e20, silently wrapped
    // as a long; exact through DECIMAL(38,0)
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    val num = lit(BigDecimal("750000000000000000000")).cast(D)
    val den = lit(BigDecimal("150000000000000000")).cast(D)
    assert(one(intRatio4Wide(num, den)) == 0.5)
  }

  test("topk_by_long: heap order, ties, k>n, and merged partials") {
    // 12 partitions force serialize/deserialize + merge of partial heaps
    val df = Seq(
      ("g", 1L, 50L), ("g", 2L, 90L), ("g", 3L, 90L), ("g", 4L, 10L),
      ("g", 5L, 70L), ("h", 6L, 5L))
      .toDF("g", "v", "o").repartition(12)
    val got = df.groupBy("g")
      .agg(expr("topk_by_long(v, o, 3)").as("t"))
      .orderBy("g").as[(String, Seq[Long])].collect().toSeq
    // ord desc; the 90-tie keeps the SMALLER value first; k>n yields n
    assert(got == Seq(("g", Seq(2L, 3L, 5L)), ("h", Seq(6L))), s"$got")
    // eviction respects the tie rule: a 4th item with ord=90 and a
    // larger value must NOT displace the kept pair
    val got2 = (df.union(Seq(("g", 9L, 90L)).toDF("g", "v", "o")))
      .groupBy("g").agg(expr("topk_by_long(v, o, 3)").as("t"))
      .filter(col("g") === "g")
      .head().getSeq[Long](1)
    assert(got2 == Seq(2L, 3L, 9L), s"$got2") // 9 beats ord-70, not the ties
  }

  test("topk_pairs_by_long equals the window row_number form (property)") {
    val rnd = new scala.util.Random(42)
    // 3 trials × random pair sets with heavy ord collisions (small ord
    // range) — the regime where the tiebreak must decide everything
    for (trial <- 1 to 3) {
      val rows = Seq.fill(400)(
        (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong,
         rnd.nextInt(7).toLong))
        .distinct // (q, cand) duplicates would be ranked arbitrarily
        .map { case (q, c, o) => (q, c, o) }
      val df = rows.toDF("q_id", "cand_id", "ord").repartition(13)
      val k = trial * 2
      val heap = df.groupBy("q_id")
        .agg(expr(s"topk_pairs_by_long(cand_id, ord, $k)").as("t"))
        .select(col("q_id"), posexplode(col("t")).as(Seq("p", "pair")))
        .select(col("q_id"), col("pair.value").as("cand_id"),
                col("pair.ord").as("ord"), (col("p") + 1).as("rn"))
        .as[(Long, Long, Long, Int)].collect().toSet
      // reference: plain Scala sort per group
      val ref = rows.groupBy(_._1).flatMap { case (q, g) =>
        g.map(t => (t._3, t._2)).sortBy { case (o, c) => (-o, c) }
          .take(k).zipWithIndex
          .map { case ((o, c), i) => (q, c, o, i + 1) }
      }.toSet
      assert(heap == ref, s"trial $trial: ${heap.diff(ref)} vs ${ref.diff(heap)}")
    }
  }

  test("heavy_hitters: exact when distinct <= k; MG bounds when not") {
    // exact regime: 3 distinct items, k=8 — no decrement can occur, so
    // the sketch equals exact counts regardless of partitioning
    val small = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(5)("c"))
      .toDF("item").repartition(11)
    val exact = small.agg(expr("heavy_hitters(item, 8)").as("h"))
      .select(explode(col("h")).as("e"))
      .select(col("e.item"), col("e.est")).as[(String, Long)]
      .collect().toMap
    assert(exact == Map("a" -> 50L, "b" -> 30L, "c" -> 5L), exact.toString)

    // approximate regime: skewed stream, k=5, 13 partitions forcing
    // serialize + merge. MG guarantees (n = 1000):
    //   est is a lower bound within n/(k+1) of the truth, and every
    //   item with true freq > n/(k+1) survives.
    val rnd = new scala.util.Random(7)
    val items = Seq.fill(1000)(
      if (rnd.nextInt(100) < 40) "hot1"
      else if (rnd.nextInt(100) < 30) "hot2"
      else s"tail${rnd.nextInt(300)}")
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val k = 5
    val bound = 1000L / (k + 1)
    val got = items.toDF("item").repartition(13)
      .agg(expr(s"heavy_hitters(item, $k)").as("h"))
      .select(explode(col("h")).as("e"))
      .select(col("e.item"), col("e.est")).as[(String, Long)]
      .collect().toMap
    assert(got.size <= k)
    got.foreach { case (item, est) =>
      assert(est <= truth(item), s"$item overestimated: $est > ${truth(item)}")
      assert(est >= truth(item) - bound,
        s"$item underestimated past the bound: $est < ${truth(item)} - $bound")
    }
    truth.filter(_._2 > bound).keys.foreach(it =>
      assert(got.contains(it), s"guaranteed heavy hitter $it missing: $got"))
    // nulls are skipped, not counted
    val withNull = Seq(Some("x"), None, Some("x"), None).toDF("item")
    val n = withNull.agg(expr("heavy_hitters(item, 4)").as("h"))
      .select(explode(col("h")).as("e")).select(col("e.item"), col("e.est"))
      .as[(String, Long)].collect().toMap
    assert(n == Map("x" -> 2L), n.toString)
  }

  test("kmv_kth: partition-independent, exact below k, bounded error above") {
    import graft.api.Pipeline

    // exact regime: fewer distinct values than k → n is the exact
    // distinct count, kth defined, identical on any partitioning
    val small = Seq("a", "b", "c", "a", "b", "a").toDF("v")
    for (parts <- Seq(1, 7)) {
      val r = small.repartition(parts)
        .agg(expr("kmv_kth(cast(conv(substring(md5(v),1,8),16,10) as bigint), 64)").as("s"))
        .select(col("s.n"), col("s.kth")).as[(Int, Long)].head()
      assert(r._1 == 3)
    }

    // estimator regime: 5000 distinct ids, k=256 → rel error well
    // within 5/sqrt(k-2) (a ~16-sigma bound; the test is deterministic
    // since the hash is)
    val big = (1 to 5000).map(_.toString).toDF("v")
    val est = Pipeline.approxDistinctKMV(big, lit(1), col("v"), 256)
      .select(col("est_distinct")).as[Double].head()
    assert(math.abs(est - 5000) / 5000.0 < 5.0 / math.sqrt(254.0),
      s"KMV estimate $est too far from 5000")

    // partition independence of the SKETCH OUTPUT (n, kth), not just
    // the estimate — the oracle-gateability claim itself
    val outs = Seq(1, 3, 13).map { p =>
      big.repartition(p)
        .agg(expr("kmv_kth(cast(conv(substring(md5(v),1,8),16,10) as bigint), 256)").as("s"))
        .select(col("s.n"), col("s.kth")).as[(Int, Long)].head()
    }
    assert(outs.distinct.size == 1, s"sketch varies with partitioning: $outs")

    // duplicates dedup inside the sketch; nulls skipped
    val dup = (Seq.fill(100)("x") ++ Seq.fill(50)("y")).toDF("v")
    val rd = dup.agg(expr("kmv_kth(cast(conv(substring(md5(v),1,8),16,10) as bigint), 8)").as("s"))
      .select(col("s.n")).as[Int].head()
    assert(rd == 2)
    val withNull = Seq(Some("x"), None, None).toDF("v")
    val rawNull = withNull
      .agg(expr("kmv_kth(cast(conv(substring(md5(v),1,8),16,10) as bigint), 8)").as("s"))
      .select(col("s.n")).as[Int].head()
    assert(rawNull == 1) // a null HASH is skipped by the aggregate
    val viaHash32 = withNull
      .agg(expr("kmv_kth(cast(conv(substring(md5(coalesce(v,'')),1,8),16,10) as bigint), 8)").as("s"))
      .select(col("s.n")).as[Int].head()
    assert(viaHash32 == 2) // hash32 maps null to '' — counted as one value
  }

  test("count_min: one-sided bounds vs exact, partition-invariant blob, probe seam") {
    // Zipf-ish planted corpus: item i appears 1000/i times, i in 1..50
    // (N = sum ≈ 4500 rows, 50 distinct)
    val rows = (1 to 50).flatMap(i => Seq.fill(1000 / i)(s"item_$i"))
    val df = rows.toDF("v")
    val n = rows.size
    val width = 512
    val blob = df.agg(expr(s"count_min_agg(v, 5, $width)").as("s"))
      .head().getAs[Array[Byte]]("s")

    // probe every distinct item against its exact count: estimates
    // never under-count, and overshoot is bounded by collision mass
    // (deterministic here — the hashes are fixed)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = exact.keys.toSeq.sorted.toDF("v")
      .withColumn("est", expr("count_min_estimate(" +
        s"cast(unhex('${blob.map("%02x".format(_)).mkString}') as binary), v)"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (item, tru) =>
      val est = probes(item)
      assert(est >= tru, s"$item: CMS under-counted $est < $tru")
      assert(est <= tru + 3L * n / width,
        s"$item: est $est exceeds $tru + ${3L * n / width}")
    }
    // an absent item estimates at most the collision bound (usually 0)
    val ghost = Seq("never_seen").toDF("v")
      .withColumn("est", expr("count_min_estimate(" +
        s"cast(unhex('${blob.map("%02x".format(_)).mkString}') as binary), v)"))
      .as[(String, Long)].collect().head._2
    assert(ghost <= 3L * n / width, s"ghost item estimated $ghost")

    // the blob is partition-order INVARIANT (counters add
    // componentwise) — bit-identical on any cluster size, unlike MG
    val blobs = Seq(1, 7, 13).map { p =>
      df.repartition(p).agg(expr(s"count_min_agg(v, 5, $width)").as("s"))
        .head().getAs[Array[Byte]]("s").toSeq
    }
    assert(blobs.distinct.size == 1, "CMS blob varies with partitioning")

    // nulls are skipped, not hashed: row 0 of the sketch holds exactly
    // the 2 non-null increments
    val nb = Seq(Some("x"), None, Some("x")).toDF("v")
      .agg(expr("count_min_agg(v, 2, 8)").as("s"))
      .head().getAs[Array[Byte]]("s")
    val bb = java.nio.ByteBuffer.wrap(nb)
    assert((0 until 8).map(i => bb.getLong(8 + 8 * i)).sum == 2L)
  }

  test("geomean skips non-positive inputs like exp(avg(ln(x)))") {
    import org.apache.spark.sql.functions._
    val gm = udaf(graft.functions.GeoMean)
    // ln(0)/ln(-4) are null in SQL and avg skips them -> geomean(2, 8) = 4
    val got = Seq(2.0, 0.0, -4.0, 8.0).toDF("x")
      .agg(gm(col("x")).as("g")).collect().head.getDouble(0)
    assert(math.abs(got - 4.0) < 1e-12, s"got $got")
  }
}
