package graft.streaming

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager whose atomic writes to the local filesystem go
  * through `java.nio` instead of Hadoop's `FileContext`.
  *
  * Every micro-batch commits two small files (the offset WAL entry and the
  * commit-log entry) with `createAtomic`. Spark's default manager writes
  * them through `FileContext` over Hadoop's checksummed local filesystem:
  * a temp file, its `.crc` sibling and a rename, each through several
  * layers of Hadoop path and permission handling. Without the native
  * Hadoop library that costs tens of milliseconds per file — most of a
  * small trigger's commit time. Here a local `createAtomic` writes a temp
  * file next to the target, fsyncs it and moves it into place:
  *  - `overwriteIfPossible = true`: an atomic rename over any old file.
  *  - `overwriteIfPossible = false`: a hard link, which fails atomically
  *    when the target exists. That failure surfaces as Hadoop's
  *    `FileAlreadyExistsException` from `close()`, which is how
  *    `HDFSMetadataLog` detects a second query writing the same batch.
  *
  * Files written here carry no `.crc` sibling. A stale sibling left by
  * an earlier Hadoop write is deleted before the new file is moved into
  * place, so the checksummed read path, which verifies a file only when
  * its sibling exists, keeps reading it.
  *
  * Every other scheme, and every other method, goes to the manager Spark
  * would pick without this class (`FileContextBasedCheckpointFileManager`,
  * or the `FileSystem`-based one for schemes `FileContext` cannot open).
  * Installed for all streaming queries by `Engine.tune` through
  * `spark.sql.streaming.checkpointFileManagerClass`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val delegate: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ClassKey)
    CheckpointFileManager.create(path, conf)
  }

  private val defaultScheme = FileSystem.getDefaultUri(hadoopConf).getScheme

  /** The local file behind `p`, if `p` is on the local filesystem. */
  private def localFile(p: Path): Option[JPath] = {
    val uri = p.toUri
    val scheme = Option(uri.getScheme).getOrElse(defaultScheme)
    if (scheme == "file") Some(Paths.get(uri.getPath)) else None
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    localFile(p) match {
      case Some(target) => LocalAtomicStream(target, overwriteIfPossible)
      case None => delegate.createAtomic(p, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** The SQL conf Spark reads to pick its checkpoint file manager. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's checksum sibling of `file`. */
  private def crcSibling(file: JPath): JPath =
    file.resolveSibling(s".${file.getFileName}.crc")

  /** Temp file in the target's directory; `close()` fsyncs it and moves it
    * into place, `cancel()` deletes it.
    */
  private final class LocalAtomicStream(target: JPath, temp: JPath, file: FileOutputStream,
      overwrite: Boolean) extends CancellableFSDataOutputStream(new BufferedOutputStream(file)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          flush()
          file.getFD.sync()
          super.close()
          if (overwrite) {
            Files.deleteIfExists(crcSibling(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            // a sibling without its file is stale; one with it belongs to
            // the other writer's file and must stay
            if (!Files.exists(target)) Files.deleteIfExists(crcSibling(target))
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() finally Files.deleteIfExists(temp)
      }
    }
  }

  private object LocalAtomicStream {
    def apply(target: JPath, overwrite: Boolean): LocalAtomicStream = {
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new LocalAtomicStream(target, temp, new FileOutputStream(temp.toFile), overwrite)
    }
  }
}
