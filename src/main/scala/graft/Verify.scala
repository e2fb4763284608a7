package graft
import java.nio.file.{Files, Paths}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Builder-side fast path: SPARK_GRAFT_ONLY=q_a,q_b runs a subset; an
    // unknown name fails here, before any Spark work. The driver sets no
    // such env var and always gets the full sweep.
    val qs = SparkEntry.select(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    qs.foreach { q =>
      // delete any previous run's output FIRST: if this query now fails,
      // stale parquet from an earlier round must not survive for the
      // comparator to silently PASS against
      graft.ops.rmTree(new java.io.File(s"$outDir/${q.name}"))
      try q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // drop the query's rank/CDF pins and dead localCheckpoint
      // blocks so a full sweep never accumulates storage
      Bench.release(spark)
    }
    val json = Serialization.write(SparkEntry.oracleSql)(DefaultFormats)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
