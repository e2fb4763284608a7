package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import graft.streaming.NioCheckpointFileManager

/** A local file system under a scheme of its own: a non-`file` path that
  * needs no network. */
class SchemeLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftlocal:///")
  override def getScheme: String = "graftlocal"
}

/** The recorder's log file manager: local writes through java.nio with
  * Spark's publish contract, every other scheme Spark's default. */
class CheckpointFileManagerSpec extends SparkSpec {

  private def conf = new Configuration(spark.sparkContext.hadoopConfiguration)

  private def write(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("local createAtomic publishes the file with no checksum and no " +
       "temp file, creating missing parents") {
    val dir = tmpDir("nio-cfm") + "/logs/offsets"
    val m = new NioCheckpointFileManager(new Path(dir), conf)
    write(m, new Path(s"file:$dir/0"), "v1\n{}", overwrite = false)
    assert(entries(dir) == Seq("0"))
    assert(read(m, new Path(dir, "0")) == "v1\n{}")
  }

  test("no-clobber createAtomic over an existing file throws Hadoop's " +
       "FileAlreadyExistsException and keeps the file") {
    val dir = tmpDir("nio-cfm-clobber")
    val m = new NioCheckpointFileManager(new Path(dir), conf)
    val p = new Path(dir, "7")
    write(m, p, "first", overwrite = false)
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(m, p) == "first")
    assert(entries(dir) == Seq("7"))
  }

  test("cancel() leaves nothing behind") {
    val dir = tmpDir("nio-cfm-cancel")
    val m = new NioCheckpointFileManager(new Path(dir), conf)
    val out = m.createAtomic(new Path(dir, "3"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(entries(dir).isEmpty)
    out.close() // after cancel, close publishes nothing
    assert(entries(dir).isEmpty)
  }

  test("an overwrite removes the stale .crc, and Spark's default manager " +
       "reads the file back") {
    val dir = tmpDir("nio-cfm-crc")
    val p = new Path(dir, "catalog.json")
    val sparkDefault = new FileContextBasedCheckpointFileManager(new Path(dir), conf)
    write(sparkDefault, p, "[\"old\"]", overwrite = true)
    assert(entries(dir) == Seq(".catalog.json.crc", "catalog.json"))
    val m = new NioCheckpointFileManager(new Path(dir), conf)
    write(m, p, "[\"new, and longer\"]", overwrite = true)
    assert(entries(dir) == Seq("catalog.json"))
    assert(read(sparkDefault, p) == "[\"new, and longer\"]")
    assert(read(m, p) == "[\"new, and longer\"]")
  }

  test("a non-file scheme gets Spark's default manager") {
    val c = conf
    c.set("fs.graftlocal.impl", classOf[SchemeLocalFs].getName)
    c.setBoolean("fs.graftlocal.impl.disable.cache", true)
    val dir = new Path(s"graftlocal://${tmpDir("nio-cfm-scheme")}")
    val m = new NioCheckpointFileManager(dir, c)
    val default = CheckpointFileManager.create(dir, c)
    assert(m.delegate.getClass == default.getClass)
    // ...and writes through it
    write(m, new Path(dir, "0"), "x", overwrite = false)
    assert(read(default, new Path(dir, "0")) == "x")
  }
}
