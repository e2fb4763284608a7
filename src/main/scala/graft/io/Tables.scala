package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE shared reader (SURVEY.md §7.1). Every declared query goes through
  * here, so the UTC session timezone and the event-time columns
  * (FIXTURES.md gotcha 1) are derived one way.
  *
  * Scale note (100 TB): this helper is the single seam where a real
  * deployment would swap one-file-per-table parquet for a partitioned
  * table (`spark.read.table` / catalog lookup). Query code never hardcodes
  * paths.
  */
object Tables {
  // One resolved DataFrame per (session, file): `spark.read.parquet`
  // costs ~100 ms of file listing + footer/schema resolution PER CALL,
  // and a 196-query Verify/Bench sweep re-reads the same nine tables
  // hundreds of times — pure fixed overhead, ~tens of seconds per run.
  // Caching the frame reuses the already-built FileIndex/schema exactly
  // like a catalog table resolved once (the fixture dirs are immutable
  // for a run, so the snapshot can never go stale). Keyed by session
  // identity: frames are session-bound, and a stopped session's entries
  // must not leak into its successor (ScalaTest suites cycle sessions).
  // SparkSession has no value equality, so the tuple key compares the
  // session by identity — no cross-session collisions; the strong ref
  // retains at most a handful of tiny plan objects per test session.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Idempotent; must be set at runtime because Verify/Bench build their
    // sessions without extra configs (SURVEY §0.3). UTC is part of the
    // oracle contract (DuckDB epoch_us is tz-free), so pin it at the one
    // seam every query reads through.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cache.computeIfAbsent((spark, s"$sfDir/$name.parquet"),
      k => k._1.read.parquet(k._2))
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` with the canonical event-time columns derived from `ts`
    * (parquet `timestamp[us]`: TIMESTAMP_NTZ as the fixtures write it,
    * TIMESTAMP when Spark wrote the file):
    *  - `ts_us`: epoch-microseconds BIGINT, the cross-engine comparable
    *    form: the session timezone is pinned to UTC above, so the NTZ→LTZ
    *    cast is value-identity and `unix_micros` here == DuckDB's
    *    `epoch_us(ts)` (FIXTURES.md gotcha 2);
    *  - `ts_utc`: µs TimestampType for window()/date functions.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val utc = col("ts").cast("timestamp")
    table(s, d, "events")
      .withColumn("ts_us", unix_micros(utc))
      .withColumn("ts_utc", utc)
  }
}
