package graft.streaming

import java.io.{BufferedOutputStream, File}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's [[CheckpointFileManager]] with local (`file:`) writes done
  * through `java.nio`: the file a metadata log or the catalog publishes
  * costs a few system calls and no forked process.
  *
  * Spark's default manager publishes through Hadoop `FileContext`. With
  * no native Hadoop library, that forks `readlink` for every link-status
  * check and `chmod` for every file it creates on a local path: 8 and 2
  * forks per log write, ~33 ms traced on a 4-core box, and a streaming
  * trigger writes three logs (offsets, commits, the sink's
  * `_spark_metadata`).
  *
  * On a local path `createAtomic` writes the hidden temp file
  * `.<name>.<uuid>.tmp` (no Hadoop checksum, no `chmod`) and publishes it
  * on close, through [[NioCheckpointFileManager.publishLocal]], the step
  * `TxLog`'s manifests and horizon also publish with:
  *  - without overwrite, by `link(2)` then deleting the temp file — the
  *    no-clobber commit. An existing target throws
  *    Hadoop's `FileAlreadyExistsException`, so `HDFSMetadataLog` still
  *    detects a second writer on the same log;
  *  - with overwrite, by an atomic `rename(2)` over the target.
  * Either way a `.<name>.crc` sibling left by a Hadoop checksummed write
  * is stale and is deleted, so Spark's default manager reads the file
  * back. `open`, `list`, `exists`, `mkdirs` and `delete` go to Spark's
  * `FileSystemBasedCheckpointFileManager`, which forks nothing for them.
  *
  * Any other scheme gets Spark's default choice (`FileContext`, or
  * `FileSystem` where the scheme has no `FileContext`), so HDFS and
  * object-store behaviour is Spark's own. The on-disk layout is Spark's
  * either way: checkpoints move between this manager and the default in
  * both directions.
  */
final class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import NioCheckpointFileManager.LinkOnClose

  private val local = Option(path.toUri.getScheme)
    .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file"

  /** Where every call but a local `createAtomic` goes. */
  private[graft] val delegate: CheckpointFileManager =
    if (local) new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) delegate.createAtomic(p, overwriteIfPossible)
    else {
      val target = new File(p.toUri.getPath).toPath.toAbsolutePath
      val dir = Files.createDirectories(target.getParent)
      val name = target.getFileName.toString
      new LinkOnClose(dir.resolve(s".$name.${UUID.randomUUID()}.tmp"),
        target, dir.resolve(s".$name.crc"), overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object NioCheckpointFileManager {

  /** The one local publish step: `write` finishes the temp file `tmp`,
    * which is then published as `target` and deleted, whatever happens.
    * Without `overwrite` it publishes by `link(2)`, which fails when
    * `target` exists (the no-clobber commit of a log): false then. With
    * `overwrite`, by an atomic `rename(2)` over `target`. */
  private[graft] def publishLocal(tmp: JPath, target: JPath,
      overwrite: Boolean)(write: => Unit): Boolean =
    try {
      write
      if (overwrite) {
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        true
      } else
        try { Files.createLink(target, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp): Unit

  /** Writes `tmp`; `close()` publishes it as `target`, `cancel()` drops
    * it. Neither leaves `tmp` behind. */
  private final class LinkOnClose(
      tmp: JPath, target: JPath, crc: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE))) {
    private var finished = false

    override def close(): Unit = synchronized {
      if (!finished) {
        finished = true
        if (!publishLocal(tmp, target, overwrite)(underlyingStream.close()))
          throw new FileAlreadyExistsException(s"$target already exists")
        Files.deleteIfExists(crc): Unit
      }
    }

    override def cancel(): Unit = synchronized {
      if (!finished) {
        finished = true
        try underlyingStream.close() finally Files.deleteIfExists(tmp): Unit
      }
    }
  }
}
