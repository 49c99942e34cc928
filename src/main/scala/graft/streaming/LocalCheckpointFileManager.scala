package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, NoSuchFileException, Path => JPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus,
  FSDataInputStream, LocalFileSystem, Path, PathFilter,
  UnsupportedFileSystemException}
import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing
  .CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager every engine session uses (installed
  * by [[graft.EngineConf.tuned]]): the offset, commit and source logs,
  * the state store's deltas, snapshots and checksum files, the file
  * sink's metadata log and the `statestore` reader all go through it.
  *
  * On a path whose file system is Hadoop's local one, writes and
  * directory operations go through `java.nio`. Spark's stock manager
  * goes through `FileContext`, and without libhadoop (this Spark
  * distribution ships none) Hadoop's local file system forks a
  * `readlink` process for each link-status check in a rename and a
  * `chmod` process for each file create and mkdir: about 600 forks
  * per `ais_stream` replay of five micro-batches, and 29 ms per
  * atomic write against 0.2 ms here. Reads, listings and
  * deletes go through Hadoop's checksummed local file system, which
  * forks nothing for them, so a checkpoint written under the stock
  * manager, with its hidden `.<name>.crc` checksum files, is still
  * verified when read and its checksums are deleted with their files.
  *
  * Every other scheme gets Spark's `FileContextBasedCheckpointFileManager`,
  * exactly as Spark's own factory picks it (falling back, as it does,
  * to the `FileSystem`-based manager for a scheme without a
  * `FileContext` binding). */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val impl: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case fs: LocalFileSystem =>
        new LocalCheckpointFileManager.Nio(path, fs)
      case _ =>
        try new FileContextBasedCheckpointFileManager(path, hadoopConf)
        catch {
          case _: UnsupportedFileSystemException =>
            new FileSystemBasedCheckpointFileManager(path, hadoopConf)
        }
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** The local-file-system manager. An atomic write goes to a hidden
    * temp file beside the target, named as Spark names it
    * (`.<name>.<uuid>[.TID<n>].tmp`), so no log or state-store
    * listing takes an unpublished file for a batch, delta or
    * snapshot. Closing publishes it: an overwrite renames it over the
    * target (rename(2)); a no-clobber write hard-links it to the
    * target (link(2)) and unlinks the temp, so a target that already
    * exists fails the write atomically, as FileContext's
    * `Rename.NONE` does. Like the stock manager on a local path, no
    * write is fsync-ed. */
  private final class Nio(root: Path, fs: LocalFileSystem)
      extends CheckpointFileManager {

    private def local(p: Path): JPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = local(p)
      val tid = Option(TaskContext.get())
        .fold("")(t => s".TID${t.taskAttemptId()}")
      val temp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}$tid.tmp")
      val out =
        try Files.newOutputStream(temp, CREATE_NEW, WRITE)
        catch {
          case _: NoSuchFileException =>
            Files.createDirectories(target.getParent)
            Files.newOutputStream(temp, CREATE_NEW, WRITE)
        }
      new AtomicStream(new BufferedOutputStream(out, BufferBytes), temp,
        target, local(fs.getChecksumFile(p)), overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = {
      Files.createDirectories(local(p))
      ()
    }
    override def exists(p: Path): Boolean = Files.exists(local(p))
    override def delete(p: Path): Unit = {
      fs.delete(p, true)
      ()
    }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** Hadoop's local output buffer as Spark sizes it (`spark.buffer.size`
    * into `io.file.buffer.size`). */
  private val BufferBytes = 65536

  /** The stream [[Nio]] hands out: `close()` publishes the temp file,
    * `cancel()` discards it. An overwrite first deletes the target's
    * Hadoop checksum sibling, which describes the old bytes: a
    * checksummed reader then reads the new file unverified instead of
    * failing on a mismatch. Any failure deletes the temp file. */
  private final class AtomicStream(out: java.io.OutputStream, temp: JPath,
      target: JPath, crc: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(out) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(crc)
            Files.move(temp, target, ATOMIC_MOVE)
          } else {
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
            Files.delete(temp)
          }
        } catch {
          case e: IOException => discard(); throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        discard()
      }
    }

    private def discard(): Unit =
      try { Files.deleteIfExists(temp); () }
      catch { case NonFatal(_) => () }
  }
}
