package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, full: Boolean, sf: String, out: Path, cores: Int)

/** One benchmark run in one JVM with one `local[N]` session. Writes
  * `result.json` (and `spans.json` when traced) under `--out`; `run.py`
  * adds the oracle check and prints the result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv.get("full").contains("1"), kv("sf"),
      Paths.get(kv("out")).toAbsolutePath, kv("cores").toInt)
    require(a.workload == "ros_record" || Queries.groups.contains(a.workload),
      s"unknown workload ${a.workload}")

    val startNs = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext)
    val result =
      if (a.workload == "ros_record") RosRecord.run(spark, a, startNs, tracer)
      else Queries.run(spark, a, startNs, tracer)
    spark.stop()
    Report.write(a.out.resolve("result.json"), result ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores))
    if (a.trace) Report.write(a.out.resolve("spans.json"), tracer.spans.map(s =>
      Map("invocation" -> s.invocation, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
  }
}
