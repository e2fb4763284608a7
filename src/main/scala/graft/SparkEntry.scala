package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * queries/oracleSql are assembled from the per-category op groups under
  * graft.ops; each entry pairs a Spark DataFrame query with DuckDB SQL
  * that computes the identical (hash-matching) result.
  */
object SparkEntry {

  /** All op groups, in SURVEY §2 order. */
  private def groups: Seq[OpGroup] = Seq(
    Scans, Filters, Joins, Aggs, Windows, SetOps, SqlOps, Scalars, LlmOps,
    NearDupOps, TextOps, ScrubOps, PrivacyOps, PipelineOps, CurateOps,
    Streaming, EventOps, EtlOps, MacroOps, MacroOps2, GraphOps, StatsOps,
    EvalOps, MiningOps, Udx, SignalOps, TrainOps, InferOps
  )

  private def all: Seq[Q] = groups.flatMap(_.qs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_group")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    all.map(q => q.name -> q.sql).toMap

  /** The tool mains' query subset: the declared queries named in the
    * comma-separated `names` (blank entries ignored), in name order; all
    * of them when it names none. An unknown name throws
    * IllegalArgumentException naming every unknown one, so a main that
    * selects before it builds its session fails before any Spark work. */
  def select(names: String): Seq[Q] = {
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val qs = all.sortBy(_.name)
    val unknown = wanted -- qs.map(_.name)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    if (wanted.isEmpty) qs else qs.filter(q => wanted(q.name))
  }
}
