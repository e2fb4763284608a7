package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures the distCumSums trade explicitly (round 9, VERDICT r8
  * "next round" #8): the same cumulative-count frame — the rank/CDF
  * input of spearman/mannwhitney/ks/median_ci — computed two ways on
  * the same dir:
  *
  *   single : the pre-r8 shape, one unpartitioned `Window.orderBy(v)`
  *            over the collapsed distinct-value frame (all values
  *            through ONE task — the shape that stops scaling once
  *            the domain grows with the corpus);
  *   dist   : `Determinism.distCumSums` — range-partition + per-
  *            partition window + broadcast offsets (two extra
  *            exchanges at toy scale, parallel at every scale).
  *
  * Run it against a CLASSIC dir (domain frozen at the sf0.1 price
  * book) and a DIVERSITY dir (domain grows with the corpus) to see
  * both regimes. Emits one JSON line per (dir, variant) with the
  * domain size, so SCALE.md's payoff table is reproducible from the
  * repo. Usage: PayoffBench <dir1> [dir2 ...]
  *
  * r10 additions for the right edge of the payoff curve:
  *  - an argument of the form `synth:N` benches a SYNTHETIC collapsed
  *    frame of ~N distinct values (hash-scrambled spark.range — no
  *    parquet, no disk). The lineitem money domain physically caps at
  *    ~10.5M distinct cents (the sub-$105k price book), so no ScaleUp
  *    factor can push the REAL domain toward 10⁸; the synthetic frame
  *    is the only honest way to measure that regime.
  *  - SPARK_GRAFT_PAYOFF_TIMEOUT_S bounds the single-task variant:
  *    at 10⁸ distinct values one task owns the whole running sum and
  *    may simply not finish — the job group is cancelled at the bound
  *    and the variant is recorded as DNF (the measurement the 100 TB
  *    claim wants on record), while dist still reports its time.
  *    The bound is PER REP (round-10 advisory): each rep runs in its
  *    own awaited Future, so a variant whose individual rep completes
  *    under the bound is never mislabeled DNF by the reps loop
  *    summing past it, and after a timeout no further rep starts.
  *    On timeout the group is cancelled IN A LOOP until the runner
  *    thread actually terminates (round-10 advisory: a single
  *    cancelJobGroup only hits jobs active at that instant — a job
  *    submitted during driver-side planning right after the cancel
  *    would run unbounded and contaminate the dist timing that
  *    follows), so the dist measurement starts on a quiet executor.
  *    DNF keeps `single_task_s` numeric-typed (null), with the DNF
  *    flag in its own boolean field (round-10 advisory).
  */
object PayoffBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PayoffBench <sfDir> [sfDir ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val reps = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").trim.toInt)
      .getOrElse(3).max(1)

    def collapsed(dir: String) =
      if (dir.startsWith("synth:")) {
        // ~N distinct values (xxhash64 collisions shave a negligible
        // fraction); cnt varies so the prefix sum is not trivially 1·i
        val n = dir.stripPrefix("synth:").toLong
        spark.range(n)
          .select(xxhash64(col("id")).as("v"),
                  (pmod(col("id"), lit(7)) + 1).as("cnt"))
          .groupBy(col("v")).agg(sum(col("cnt")).as("cnt"))
      } else graft.io.Tables.lineitem(spark, dir)
        .select((col("l_extendedprice").cast(
          org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))

    def time(f: => Long): (Double, Long) = {
      var out = 0L
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        out = f
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (runs(runs.size / 2), out)
    }

    // Single-task variant at 10⁸ distinct may not finish; bound EACH
    // REP by cancelling its job group at SPARK_GRAFT_PAYOFF_TIMEOUT_S
    // and record DNF instead of hanging the whole bench. None = DNF.
    val timeoutS = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_PAYOFF_TIMEOUT_S", "0").trim.toInt)
      .getOrElse(0)
    // Returns (completed-rep times, Some(median, value) unless any rep
    // timed out). The completed times survive a DNF so the artifact
    // keeps the fact that rep 1 finished in t seconds — the per-rep
    // bound exists to preserve exactly that (round-12 advisory).
    def timeBounded(group: String)(f: => Long)
        : (List[Double], Option[(Double, Long)]) = {
      if (timeoutS <= 0) { val r = time(f); (List(r._1), Some(r)) }
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration._
        var out = 0L
        val runs = scala.collection.mutable.ListBuffer.empty[Double]
        var dnf = false
        var rep = 0
        while (rep < reps && !dnf) {
          val fut = Future {
            spark.sparkContext.setJobGroup(group, group,
              interruptOnCancel = true)
            try {
              val t0 = System.nanoTime()
              val v = f
              ((System.nanoTime() - t0) / 1e9, v)
            } finally spark.sparkContext.clearJobGroup()
          }
          try {
            val (t, v) = Await.result(fut, timeoutS.seconds)
            runs += t; out = v
          } catch { case _: java.util.concurrent.TimeoutException =>
            dnf = true
            // cancel in a loop until the runner thread terminates: a
            // single cancelJobGroup only cancels jobs active at that
            // instant, so a job submitted between the cancel and the
            // future's next action would otherwise run unbounded and
            // overlap the dist measurement that starts next. 60 s
            // grace, re-cancelling every 2 s.
            val deadline = System.nanoTime() + 60L * 1000000000L
            var terminated = false
            while (!terminated && System.nanoTime() < deadline) {
              spark.sparkContext.cancelJobGroup(group)
              terminated =
                scala.util.Try(Await.ready(fut, 2.seconds)).isSuccess
            }
            if (!terminated) System.err.println(
              s"[payoff] $group did not terminate within 60s grace " +
                "after cancel; dist timing may overlap its wind-down")
          }
          rep += 1
        }
        if (dnf) (runs.toList, None)
        else {
          val s = runs.sorted
          (runs.toList, Some((s(s.size / 2), out)))
        }
      }
    }

    for (dir <- args) {
      val domain = collapsed(dir).count()
      // checksum forces full evaluation of every cum value and pins
      // the two variants to the same answer
      val (singleReps, single) = timeBounded("payoff-single") {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
          .rowsBetween(Long.MinValue, 0)
        collapsed(dir).withColumn("cum", sum(col("cnt")).over(w))
          .agg(sum(expr("cum % 1000000007")).cast("long"))
          .head().getLong(0)
      }
      val (tDist, sumDist) = time {
        Determinism.distCumSums(collapsed(dir), "v", Seq("cnt"))
          .agg(sum(expr("cum_cnt % 1000000007")).cast("long"))
          .head().getLong(0)
      }
      Bench.release(spark)
      single.foreach { case (_, sumSingle) =>
        require(sumSingle == sumDist,
          s"variants disagree on $dir: $sumSingle vs $sumDist") }
      // single_task_s stays number-or-null so numeric consumers never
      // see a string; the DNF fact rides its own boolean plus the
      // per-rep bound that was in force (round-10 advisory).
      val singleJson = single
        .map { case (t, _) => f"$t%.3f" }
        .getOrElse("null")
      val repsJson = singleReps.map(t => f"$t%.3f")
        .mkString("[", ",", "]")
      println(s"""{"dir":"$dir","domain":$domain,""" +
        s""""single_task_s":$singleJson,""" +
        s""""single_task_dnf":${single.isEmpty},""" +
        s""""single_task_completed_reps_s":$repsJson,""" +
        s""""single_task_rep_timeout_s":$timeoutS,""" +
        s""""dist_cumsums_s":${f"$tDist%.3f"},"checksum":$sumDist}""")
    }
    spark.stop()
  }
}
