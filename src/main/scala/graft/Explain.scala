package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-dump tool for the optimization rounds: writes
  * `.explain("formatted")` output for the named declared queries (all of
  * them when no names are given) into an output directory, one
  * `<query>.txt` per query. Never used by the driver; exists so the
  * committed plans/r12 evidence is regenerable from one command.
  *
  * Usage: sbt "runMain graft.Explain <outDir> <suffix> [name1 name2 ...]"
  * (suffix e.g. `_before` / `_after`; files land as
  * `<outDir>/<query><suffix>.txt`). No names = all declared queries.
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (cores).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r12")
    val suffix = args.drop(1).headOption.getOrElse("")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      val txt =
        try fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(outDir, s"$n$suffix.txt"), txt + "\n")
      System.err.println(s"[explain] wrote $outDir/$n$suffix.txt")
      // CC/rank queries pin frames and checkpoint seams during
      // construction; release so a full-suite explain never accumulates
      Bench.release(spark)
    }
    spark.stop()
  }
}
