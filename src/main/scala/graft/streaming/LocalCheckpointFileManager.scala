package graft.streaming

import java.io.{BufferedOutputStream, File}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's checkpoint file manager with java.nio writes for local paths,
  * bound once per SparkContext through
  * `spark.sql.streaming.checkpointFileManagerClass` on its Hadoop
  * configuration (`graft.fs.LocalIo`), so every session on the context
  * and every `newSession()` child uses it unless its own conf names
  * another manager. Spark's default manager writes through FileContext,
  * whose local filesystem forks `chmod` twice (file and `.crc`) per file
  * without Hadoop's native library, which made the offset log, commit log
  * and each state-store delta cost tens of ms a file; here a write is a
  * temp file plus one atomic rename.
  *
  * Only `createAtomic`, `mkdirs` and `createCheckpointDirectory` on
  * `file:` paths change; reads, listings, deletes and every other scheme
  * go to Spark's FileContext manager. No `.crc` is written, and a stale
  * one is removed on overwrite, so checkpoints stay readable by the
  * default manager (and checkpoints it wrote stay readable here). Like
  * Hadoop's local stream, nothing is fsynced.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  /** The local file behind `p`, or None when `p` lives on another scheme. */
  private def localFile(p: Path): Option[JPath] = {
    val q = fc.makeQualified(p)
    if (q.toUri.getScheme == "file") Some(new File(q.toUri).toPath) else None
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    localFile(p) match {
      case Some(target) => LocalCheckpointFileManager.atomicStream(target, overwriteIfPossible)
      case None => super.createAtomic(p, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = localFile(p) match {
    case Some(dir) => Files.createDirectories(dir)
    case None => super.mkdirs(p)
  }

  /** The query's checkpoint root, which Spark creates through here when
    * the query starts.
    */
  override def createCheckpointDirectory(): Path = {
    mkdirs(path)
    fc.makeQualified(path)
  }
}

object LocalCheckpointFileManager {

  /** Writes `.<name>.<uuid>.tmp` beside `target` (Spark's own temp
    * naming, which metadata-log and state-store listings skip) and
    * renames it over `target` on close.
    */
  private def atomicStream(target: JPath,
      overwrite: Boolean): CancellableFSDataOutputStream = {
    val name = target.getFileName.toString
    val tmp = target.resolveSibling(s".$name.${UUID.randomUUID()}.tmp")
    val out = new BufferedOutputStream(
      Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    new CancellableFSDataOutputStream(out) {
      private var terminated = false

      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlyingStream.close()
          catch { case t: Throwable => Files.deleteIfExists(tmp); throw t }
          // rename(2) replaces silently, so no-overwrite is checked here;
          // HDFSMetadataLog turns this exception into its
          // concurrent-writer error
          if (!overwrite && Files.exists(target)) {
            Files.deleteIfExists(tmp)
            throw new FileAlreadyExistsException(s"$target already exists")
          }
          // a checksum left by a Hadoop-written predecessor would fail
          // ChecksumFs reads of the new bytes
          Files.deleteIfExists(target.resolveSibling(s".$name.crc"))
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlyingStream.close()
          finally Files.deleteIfExists(tmp)
        }
      }
    }
  }
}
