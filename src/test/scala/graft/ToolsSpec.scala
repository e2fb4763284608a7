package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The tool mains' shared pieces: the bench JSON line (the one stdout
  * contract the driver parses), the query selector and the disk-family
  * test. */
class ToolsSpec extends SparkSpec {

  private val driverKeys = List("metric", "value", "unit", "n_queries",
    "calibration_s", "calibration_io_s", "floor_s", "ratios", "queries",
    "failed", "sf")

  private def fields(line: String): List[(String, JValue)] =
    JsonMethods.parse(line, useBigDecimalForDouble = true) match {
      case JObject(kvs) => kvs
      case v => fail(s"not a JSON object: $v")
    }

  /** Every number token in a rendered line. */
  private def numbers(line: String): Seq[String] =
    """(?<=[:\[,])-?[0-9][0-9.eE+-]*""".r.findAllIn(line).toSeq

  test("bench line: driver key order, three decimals, null probe, fits the driver buffer") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 391)
    // every query slow (four integer digits) and named in full: the
    // widest line a clean run can print
    val times = names.zipWithIndex.map { case (n, i) =>
      n -> Seq(1000.0 + i + 0.0004, 3000.0 + i + 0.0005, 2000.0 + i)
    }
    val run = Bench.Run(times, failed = Nil,
      disk = Set(names(0), names(1)), calibration = None,
      calibrationIo = Some(0.5), floor = Some(0.12345),
      sf = "data/sf0.1")
    val line = Bench.jsonLine(run, full = false)
    assert(line.length < 2000, s"${line.length} chars")
    assert(!line.contains("\n"))
    val f = fields(line)
    assert(f.map(_._1) == driverKeys)
    val m = f.toMap
    assert(m("calibration_s") == JNull, "a probe with no successful rep")
    assert(line.contains(""""calibration_s":null,"calibration_io_s":0.500,"floor_s":0.123,"""))
    assert(m("n_queries") == JInt(names.size))
    assert(m("ratios").asInstanceOf[JObject].obj.map(_._1) == List(
      "total_over_calib", "cpu_over_calib", "disk_over_io", "cpu_total_s",
      "disk_total_s"))
    assert(line.contains(""""total_over_calib":null,"cpu_over_calib":null,"""))
    // the median of each query's reps, the slowest first, within budget
    val kept = m("queries").asInstanceOf[JObject].obj
    assert(kept.nonEmpty && kept.size < names.size)
    assert(kept.head == (names.last -> JDecimal(BigDecimal(s"${2000 + names.size - 1}.000"))))
    assert(kept.map(_._2.asInstanceOf[JDecimal].num) ==
      kept.map(_._2.asInstanceOf[JDecimal].num).sortBy(-_))
    // the disk family: names(0) and names(1), medians 2000 and 2001 s
    assert(line.contains(""""disk_total_s":4001.000}"""))
    assert(line.contains(""""disk_over_io":8002.000,"""))
    val nums = numbers(line).filterNot(_ == names.size.toString)
    assert(nums.nonEmpty && nums.forall(_.matches("""\d+\.\d{3}""")), nums)

    val full = Bench.jsonLine(run.copy(failed = Seq("q_b", "q_a")), full = true)
    val ff = fields(full)
    assert(ff.map(_._1) == driverKeys.patch(9, Seq("spread_min_med"), 0))
    assert(ff.toMap.apply("queries").asInstanceOf[JObject].obj.map(_._1) == names)
    assert(ff.toMap.apply("failed") == JArray(List(JString("q_a"), JString("q_b"))))
    // the spread carries [min, median] for the cost decile, in 3 decimals
    assert(full.contains(s""""${names.last}":[${1000 + names.size - 1}.000,${2000 + names.size - 1}.000]"""))
    assert(numbers(full).filterNot(_ == names.size.toString)
      .forall(_.matches("""\d+\.\d{3}""")))
  }

  test("median and timer: upper median; a throwing body is skipped, never timed") {
    assert(Bench.median(Nil).isEmpty)
    assert(Bench.median(Seq(3.0, 1.0, 2.0)).contains(2.0))
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)).contains(3.0))
    assert(Bench.timed("ok")(()).exists(_ >= 0.0))
    assert(Bench.timed("boom")(throw new IllegalStateException("boom")).isEmpty)
  }

  test("the disk family is read from the plan: a checkpointed RDD anywhere below") {
    val plain = spark.range(0L, 100L).toDF()
    assert(!Bench.traversesCheckpoint(plain))
    val seam = spark.range(0L, 100L).selectExpr("id", "id % 7 AS k")
      .localCheckpoint()
    assert(Bench.traversesCheckpoint(seam))
    val agg = seam.groupBy("k").count()
    assert(Bench.traversesCheckpoint(plain.join(agg, plain("id") === agg("k"))))
  }

  test("select: a comma list in name order, blanks ignored, empty is all; unknown names throw") {
    assert(SparkEntry.select(" q_win_rank, ,q_agg_group ").map(_.name) ==
      Seq("q_agg_group", "q_win_rank"))
    assert(SparkEntry.select("").map(_.name) ==
      SparkEntry.queries.keys.toSeq.sorted)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select("q_agg_group,q_no_such,q_also_not"))
    assert(e.getMessage.contains("unknown queries: q_also_not, q_no_such"),
      e.getMessage)
  }

  /** Runs a tool main in a fresh JVM on this suite's classpath; its exit
    * code and combined output. */
  private def runTool(main: String, env: Map[String, String],
                      args: String*): (Int, String) = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val log = Files.createTempFile("graft-tool", ".log")
    try {
      val pb = new ProcessBuilder(
        (Seq(java, "-Xmx256m", "-cp", sys.props("java.class.path"), main) ++
          args): _*)
        .redirectErrorStream(true).redirectOutput(log.toFile)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      val p = pb.start()
      if (!p.waitFor(3, TimeUnit.MINUTES)) {
        p.destroyForcibly()
        fail(s"$main did not exit:\n${Files.readString(log, UTF_8)}")
      }
      (p.exitValue(), Files.readString(log, UTF_8))
    } finally Files.deleteIfExists(log): Unit
  }

  test("an unknown name in a subset list fails before a session exists (Bench, Verify)") {
    val out = Paths.get(tmpDir("verify-out"), "never")
    val cases = Seq(
      "graft.Bench" -> (Map("SPARK_GRAFT_BENCH_ONLY" -> "q_agg_group,q_no_such",
        "SPARK_GRAFT_SF_DIR" -> sfDir), Seq.empty[String]),
      "graft.Verify" -> (Map("SPARK_GRAFT_ONLY" -> "q_agg_group,q_no_such"),
        Seq(sfDir, out.toString)))
    for ((main, (env, args)) <- cases) {
      val (code, log) = runTool(main, env, args: _*)
      assert(code != 0, s"$main exited 0:\n$log")
      assert(log.contains("unknown queries: q_no_such"), s"$main:\n$log")
      assert(!log.contains("SparkContext"),
        s"$main started Spark before rejecting the list:\n$log")
    }
    assert(!Files.exists(out), "Verify created its output dir")
  }
}
