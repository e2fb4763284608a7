package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object ops {
  /** One declared operator: the Spark query, and the DuckDB oracle SQL
    * computing the identical result (same column NAMES — the driver sorts
    * columns by name before hashing). Operators with no SQL oracle (true
    * streaming, sinks, sketches) are NOT declared here; they live in
    * ScalaTest suites (SURVEY §2.0 R7). */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      sql: String)

  /** A category of operators (one object per SURVEY §2 table). */
  trait OpGroup {
    def qs: Seq[Q]
  }

  /** Recursive delete of a file or directory tree; a missing path is a
    * no-op. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(): Unit
  }

  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A query's fixed scratch dir, `<java.io.tmpdir>/<prefix><hex hash of
    * sfDir>`: the same path every rep, so bench/verify reps overwrite it
    * instead of accumulating copies, and one shutdown hook per distinct
    * path removes it at JVM exit (File.deleteOnExit cannot remove a
    * non-empty dir). `wipe` deletes what an earlier construction left,
    * for a query that must start from no table at all. */
  private[graft] def scratchDir(prefix: String, sfDir: String,
                                wipe: Boolean = false): String = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      prefix + Integer.toHexString(sfDir.hashCode))
    if (wipe) rmTree(p)
    if (scratchDirs.add(p.toString))
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(p)))
    p.toString
  }

  /** DuckDB twin of `graft.api.Dedup.tokens` — THE oracle-side
    * tokenizer for the n-gram/shingle family. The explicit character
    * class equals Java regex `\s` (RE2's `\s` omits `\x0B`), and the
    * empty-string filter drops the artifacts of leading separators, so
    * both engines produce identical token arrays on ANY whitespace,
    * not just the single-spaced fixture corpus. */
  def toksSql(c: String): String =
    s"list_filter(string_split_regex($c, '[ \\t\\n\\r\\f\\x0B]+'), w -> w <> '')"

  /** DuckDB rendering of `api.Pipeline.hash16`: integer value of the
    * first 4 hex digits of md5(str(c)) via digit arithmetic (DuckDB has
    * no conv(); instr over the hex alphabet computes the same integer).
    * COALESCE mirrors hash16's documented null semantics (a null id
    * hashes as '' and gets a deterministic decision) — without it
    * DuckDB's md5(NULL) = NULL would silently drop null-id rows from
    * the oracle side only (ADVICE r2; latent on the non-null fixture).
    * Shared home (promoted from PipelineOps in round 4, fifth session —
    * StatsOps' bootstrap uses the same uniform). */
  def u16Sql(c: String): String = {
    def d(i: Int) =
      s"(instr('0123456789abcdef', substr(md5(COALESCE(CAST($c AS VARCHAR), '')), $i, 1)) - 1)"
    s"${d(1)} * 4096 + ${d(2)} * 256 + ${d(3)} * 16 + ${d(4)}"
  }
}
