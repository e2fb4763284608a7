package graft

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Who releases materialized blocks. Library calls materialize with an
  * eager `localCheckpoint()` (never CacheManager-registered) or with
  * the bounded rank/CDF pins of `Determinism.distCumSumsBy`; only the
  * harness mains sweep a session clean, between queries
  * ([[Bench.release]]). */
class ReleaseSpec extends SparkSpec {

  /** A query's result as a sorted multiset of rendered rows. */
  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString)
      .toSeq.sorted

  test("library calls leave a caller's cache and a parallel query " +
       "alone") {
    Bench.release(spark) // clean slate from earlier suites
    // a distCumSums rider and a seam-heavy connected-components query
    val names = Seq("q_stats_spearman", "q_dedup_cluster")
    val sequential = names.map(n => n -> run(n)).toMap

    val mine = spark.range(0L, 5000L, 1L, 4)
      .selectExpr("id", "id * 3 AS v").cache()
    assert(mine.count() == 5000L)
    val cacheManager = spark.sharedState.cacheManager
    def loaded: Boolean = cacheManager
      .lookupCachedData(mine.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
    assert(loaded, "the caller's frame was not cached to begin with")

    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new java.util.concurrent.CountDownLatch(names.size)
    val parallel =
      try Await.result(Future.sequence(names.map(n => Future {
        start.countDown(); start.await()
        n -> run(n)
      })), 10.minutes).toMap
      finally pool.shutdown()

    names.foreach { n =>
      assert(parallel(n).nonEmpty, s"$n returned no rows")
      assert(parallel(n) == sequential(n),
        s"$n differs when run next to another query: " +
        s"${parallel(n).size} rows vs ${sequential(n).size} sequential")
    }
    assert(loaded, "a library call released the caller's cache")
    assert(mine.agg(org.apache.spark.sql.functions.sum("v")).head()
      .getLong(0) == 3L * (4999L * 5000L / 2))
    mine.unpersist(blocking = true)
  }

  /** Every `.scala` file under `dir` (relative to the build root). */
  private def sources(dir: String): (Path, Seq[Path]) = {
    val root = Paths.get(sys.props("user.dir"), dir)
    assert(Files.isDirectory(root), s"source tree not found at $root")
    (root, Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq)
  }

  test("only the harness mains sweep the session or read a seam knob") {
    val (root, files) = sources("src/main/scala/graft")
    val harness = Set("Bench.scala", "Verify.scala", "Explain.scala")
    val banned = Seq("""getPersistentRDDs""", """catalog\.clearCache""",
                     """spark\.graft\.seam\.mode""").map(_.r)
    val offenders = for {
      p: Path <- files
      if !(p.getParent == root && harness(p.getFileName.toString))
      text = Files.readString(p)
      b <- banned if b.findFirstIn(text).isDefined
    } yield s"${root.relativize(p)}: $b"
    assert(files.size > 50, s"only ${files.size} sources scanned")
    assert(offenders.isEmpty,
      "library code releases session-wide state or reads a seam knob:\n" +
        offenders.mkString("\n"))
  }

  test("only the four tool mains define a main") {
    val (mainRoot, mainSources) = sources("src/main/scala/graft")
    val (_, testSources) = sources("src/test/scala")
    val tools = Set("Bench.scala", "Verify.scala", "Explain.scala",
                    "ScaleUp.scala")
    val entry = """\bdef\s+main\s*\(""".r
    val withMain = (mainSources ++ testSources)
      .filter(p => entry.findFirstIn(Files.readString(p)).isDefined)
    val extra = withMain.filterNot(p =>
      p.getParent == mainRoot && tools(p.getFileName.toString))
    assert(withMain.size - extra.size == tools.size,
      s"expected a main in each of ${tools.mkString(", ")}: $withMain")
    assert(extra.isEmpty,
      "a main outside Bench, Verify, Explain and ScaleUp:\n" +
        extra.mkString("\n"))
  }
}
