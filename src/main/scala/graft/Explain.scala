package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.execution.ExplainMode

/** Plan-dump tool for the optimization rounds: writes
  * `.explain("formatted")` output for the named declared queries (all of
  * them when no names are given) into an output directory, one
  * `<query>.txt` per query, and prints one plan-shape line per query to
  * stdout: the `Exchange hashpartitioning`, `BroadcastExchange` and
  * `Generate` node counts of its executed plan. The counts read the
  * plan's own tree string, which — unlike the formatted text — includes
  * the plans cached inside pinned frames. Not part of the benchmark;
  * exists so the committed plans/r12 evidence is regenerable from one
  * command.
  *
  * Usage: sbt "runMain graft.Explain <outDir> [suffix] [name1 name2 ...]"
  * (suffix e.g. `_before` / `_after`; files land as
  * `<outDir>/<query><suffix>.txt`). No names = all declared queries.
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (cores).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: graft.Explain <outDir> [suffix] [name1 name2 ...]")
      sys.exit(2)
    }
    val outDir = args(0)
    val suffix = args.lift(1).getOrElse("")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Bench.session()
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      val txt =
        try {
          val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
          val formatted = qe.explainString(ExplainMode.fromString("formatted"))
          val plan = qe.executedPlan.toString.linesIterator.toSeq
          def nodes(s: String) = plan.count(_.contains(s))
          println(f"$n%-28s exchanges=${nodes("Exchange hashpartitioning")}%2d " +
            f"broadcast=${nodes("BroadcastExchange")}%2d " +
            f"generate=${nodes("Generate")}%2d")
          formatted
        } catch { case NonFatal(e) => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(outDir, s"$n$suffix.txt"), txt + "\n")
      System.err.println(s"[explain] wrote $outDir/$n$suffix.txt")
      // CC/rank queries pin frames and checkpoint seams during
      // construction; release so a full-suite explain never accumulates
      Bench.release(spark)
    }
    spark.stop()
  }
}
