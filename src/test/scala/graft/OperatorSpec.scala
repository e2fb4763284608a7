package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.io.Tables

/** Operators with no SQL oracle (SURVEY §2 ⊘ rows): approximate sketches,
  * binary/multimodal columns — plus the determinism double-run guard and
  * plan-shape assertions that back the 100 TB story. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("BinaryType column ingest + length/md5 stats (uint8[] blob analog)") {
    // no binary fixture ships — generate deterministic fake payloads
    // (the real decode step would be a vectorized UDF over these bytes)
    val blobs = (0L until 50L)
      .map(i => (i, Array.tabulate[Byte](64)(j => ((i * 31 + j) % 127).toByte)))
      .toDF("blob_id", "payload")
    val stats = blobs.select(
        col("blob_id"),
        length(col("payload")).as("len"),
        md5(col("payload")).as("digest"))
      .agg(count(lit(1)).as("n"),
           min(col("len")).as("min_len"),
           max(col("len")).as("max_len"),
           countDistinct(col("digest")).as("n_distinct"))
      .head()
    assert(stats.getLong(0) == 50 && stats.getInt(1) == 64 &&
      stats.getInt(2) == 64 && stats.getLong(3) == 50)
    // roundtrip through parquet stays byte-exact
    val dir = tmpDir("blob") + "/b"
    blobs.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).orderBy("blob_id")
      .as[(Long, Array[Byte])].collect()
    assert(back.length == 50 &&
      java.util.Arrays.equals(back(7)._2,
        Array.tabulate[Byte](64)(j => ((7 * 31 + j) % 127).toByte)))
  }
}

class ApproxSpec extends SparkSpec {

  test("approx_count_distinct (HLL++) lands within 5% of exact") {
    val li = Tables.lineitem(spark, sfDir)
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.02))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("approx_percentile tracks the exact percentile within tolerance") {
    val li = Tables.lineitem(spark, sfDir)
    val Array(approx, exact) = li.select(
        expr("approx_percentile(l_quantity, 0.5, 1000)"),
        expr("percentile(l_quantity, 0.5)"))
      .head().toSeq.map(_.toString.toDouble).toArray
    assert(math.abs(approx - exact) <= 1.0, s"approx=$approx exact=$exact")
  }

  test("observe attaches in-flight metrics without a second count job") {
    // the pipeline-monitoring primitive at scale: row counts / null
    // rates ride along inside the SAME job instead of separate count()
    // actions re-scanning 100 TB
    val obs = org.apache.spark.sql.Observation("gate")
    val kept = Tables.orders(spark, sfDir)
      .observe(obs, count(lit(1)).as("rows_seen"),
               count_if(col("o_totalprice") <= 0).as("bad_price"))
      .filter(col("o_orderstatus") === "O")
      .collect().length
    // the metric sees EVERY scanned row (it sits below the filter);
    // the action only the kept ones
    val total = Tables.orders(spark, sfDir).count()
    assert(obs.get("rows_seen") == total,
      s"observed ${obs.get("rows_seen")} of $total")
    assert(obs.get("bad_price") == 0L)
    assert(kept < total)
  }

  test("stratified sampleBy honors per-stratum fractions (seeded)") {
    val li = Tables.lineitem(spark, sfDir)
    val sampled = li.stat.sampleBy("l_returnflag",
      Map("A" -> 0.5, "N" -> 0.1, "R" -> 0.0), seed = 7L)
    val counts = sampled.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("R")) // 0-fraction stratum fully excluded
    val fa = counts("A").toDouble / base("A")
    val fn = counts("N").toDouble / base("N")
    assert(fa > 0.35 && fa < 0.65, s"A fraction $fa")
    assert(fn > 0.03 && fn < 0.2, s"N fraction $fn")
  }

  test("seeded sample is deterministic within Spark and size-plausible") {
    val li = Tables.lineitem(spark, sfDir)
    val a = li.sample(withReplacement = false, 0.1, seed = 42)
    val b = li.sample(withReplacement = false, 0.1, seed = 42)
    assert(a.collect().toSeq == b.collect().toSeq) // same seed, same rows
    val n = a.count().toDouble / li.count()
    assert(n > 0.05 && n < 0.15, s"sampled fraction $n")
  }
}

/** Source-format surface beyond parquet: CSV and JSON-lines with
  * explicit schemas (schema inference is banned at scale — a full-file
  * inference pass over 100 TB is a job in itself). */
class SourceFormatSpec extends SparkSpec {
  import spark.implicits._

  test("csv and json-lines round-trip with explicit schemas") {
    val dir = tmpDir("fmt")
    val src = Tables.nation(spark, sfDir)
    src.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    src.write.mode("overwrite").json(s"$dir/json")
    val csvBack = spark.read.schema(src.schema)
      .option("header", "true").csv(s"$dir/csv")
    val jsonBack = spark.read.schema(src.schema).json(s"$dir/json")
    val want = src.orderBy("n_nationkey").collect().toSeq
    assert(csvBack.orderBy("n_nationkey").collect().toSeq == want)
    assert(jsonBack.orderBy("n_nationkey").collect().toSeq == want)
    // schema is the declared one, not an inferred guess
    assert(csvBack.schema == src.schema && jsonBack.schema == src.schema)
  }

  test("orc round-trips with predicate pushdown reaching the reader") {
    val dir = tmpDir("fmt") + "/orc"
    val src = Tables.nation(spark, sfDir)
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
           src.orderBy("n_nationkey").collect().toSeq)
    // ORC scans take pushed filters just like parquet (stripe stats)
    val plan = back.filter(col("n_nationkey") > 10).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_nationkey), " +
        "GreaterThan(n_nationkey,10)]"),
      s"orc filter not pushed:\n$plan")
  }

  test("Tables.events derives ts_us and ts_utc from a timestamp[us] ts") {
    // the fixtures' ts is parquet timestamp[us] (TIMESTAMP_NTZ here); a
    // file Spark wrote holds TIMESTAMP. Both derive the same µs columns.
    val dir = tmpDir("evts")
    val usT = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:01.234567Z"))
    Seq((1L, usT)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = Tables.events(spark, dir).select("ts_us", "ts_utc").head()
    assert(e.getLong(0) == 1704067201234567L, s"ts_us: ${e.get(0)}")
    assert(e.getTimestamp(1) == usT, s"ts_utc: ${e.get(1)}")
    val fixture = Tables.events(spark, sfDir)
    assert(fixture.schema("ts").dataType == TimestampNTZType)
    assert(fixture.schema("ts_us").dataType == LongType)
    assert(fixture.schema("ts_utc").dataType == TimestampType)
    val mismatched = fixture.filter(
      col("ts_us") =!= unix_micros(col("ts_utc"))).count()
    assert(mismatched == 0)
  }

  test("parquet schema evolution: mergeSchema unifies drifted batches") {
    // the long-running-recorder reality: a producer adds a column
    // mid-stream; old files must stay readable in the union view with
    // nulls for the column they predate
    val dir = tmpDir("evo")
    val v1 = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"))
    val v2 = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"),
              col("n_regionkey").as("added_later"))
    v1.write.parquet(s"$dir/t/batch=1")
    v2.write.parquet(s"$dir/t/batch=2")
    val all = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(all.columns.toSet ==
      Set("n_nationkey", "n_name", "added_later", "batch"))
    assert(all.count() == 50)
    // pre-drift rows surface the new column as null, post-drift keep it
    assert(all.filter(col("batch") === 1 &&
      col("added_later").isNull).count() == 25)
    assert(all.filter(col("batch") === 2 &&
      col("added_later").isNotNull).count() == 25)
    // the union view is an explicit opt-in, not silent magic: reading
    // only the pre-drift batch must NOT surface the later column
    val preDrift = spark.read.parquet(s"$dir/t/batch=1")
    assert(!preDrift.columns.contains("added_later"),
      s"pre-drift batch grew the later column: ${preDrift.columns.toSeq}")
  }
}

/** SURVEY §5.2.3: every declared query must produce identical rows under
  * different shuffle fan-outs — catches partition-order-dependent
  * aggregation (double sums), nondeterministic row picks, and missing
  * total orders cheaply, without the DuckDB oracle. */
class DeterminismSpec extends SparkSpec {

  test("all declared queries are partition-count invariant") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results =
      try Seq("4", "7").map { parts =>
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        names.map { n =>
          n -> SparkEntry.queries(n)(spark, sfDir).collect().toSeq
        }.toMap
      }
      // finally-restored: a throwing query must not leave the shared
      // session at 7 shuffle partitions for later suites
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    val diffs = names.filter(n => results(0)(n) != results(1)(n))
    assert(diffs.isEmpty, s"partition-sensitive queries: $diffs")
  }
}
