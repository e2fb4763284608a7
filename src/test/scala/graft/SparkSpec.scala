package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * re-use keeps the test wall-clock sane). */
object SparkSpec {
  lazy val spark: SparkSession = {
    System.setProperty("derby.system.home", "/tmp/graft-derby")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // Spark's generated-class cache holds 100 entries by default, and
      // a full run of the suites compiles 7,686 distinct classes (keyed
      // by class loader and source): with room for all of them, a class
      // is compiled once, not again after each eviction. A static conf,
      // so it is set here, before the first compile.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  // deleteOnExit only removes EMPTY directories — every populated test
  // dir would leak (review r4 test pass). One JVM shutdown hook deletes
  // all registered temp trees recursively.
  private val tmpRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpRoots.forEach { root =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(root.toFile)
      }))
  def cleanupOnExit(p: java.nio.file.Path): Unit = {
    hookInstalled
    tmpRoots.add(p): Unit
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
  def tmpDir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-$name")
    SparkSpec.cleanupOnExit(p)
    p.toString
  }
  /** Every entry of `dir`, hidden ones included, sorted. */
  def entries(dir: String): Seq[String] = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally ls.close()
  }
}
