package graft.fs

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, GraftFsCache}

/** Fork-free local I/O for every session on a SparkContext. Two keys:
  *
  *  - `fs.file.impl` = [[NioLocalFileSystem]], for every `file:` write
  *    through Hadoop's FileSystem (parquet writes, replay staging, the
  *    replay sinks' output);
  *  - `spark.sql.streaming.checkpointFileManagerClass` =
  *    `graft.streaming.LocalCheckpointFileManager`, for each query's
  *    checkpoint root, offset log, commit log and state-store files,
  *    which Spark's default manager writes through FileContext, not
  *    FileSystem.
  *
  * Both are bound on the context's Hadoop configuration:
  * `EngineSession.create` passes them as `spark.hadoop.*` conf, and
  * `GraftOptimizations.install` applies them to a context built elsewhere
  * with [[bind]]. Spark reads them through `sessionState.newHadoopConf()`,
  * which layers a session's SQL conf over the context's, so every session
  * and every `newSession()` child inherits them. A session opts out of the
  * checkpoint manager by naming another class in its own conf (unsetting
  * the key there falls back to the binding, not to Spark's default); the
  * filesystem is one cached instance per JVM user, shared by all.
  */
object LocalIo {
  val FsKey = "fs.file.impl"
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  val Binding: Seq[(String, String)] = Seq(
    FsKey -> classOf[NioLocalFileSystem].getName,
    CheckpointManagerKey -> classOf[graft.streaming.LocalCheckpointFileManager].getName)

  private val LocalRoot = URI.create("file:///")

  /** Set each key of [[Binding]] that `hadoopConf` leaves unset, then
    * [[serveConfiguredFs]]. Idempotent.
    */
  def bind(hadoopConf: Configuration): Unit = {
    Binding.foreach { case (k, v) => if (hadoopConf.get(k) == null) hadoopConf.set(k, v) }
    serveConfiguredFs(hadoopConf)
  }

  /** Make `FileSystem.get(file:///, hadoopConf)` return the class
    * `hadoopConf` names. Hadoop caches one `file:` instance per user and
    * serves it whatever the caller's configuration says, and a context
    * built without the binding has one cached already (SharedState
    * qualifies the warehouse path through it), so a cached instance of
    * another class is evicted.
    */
  def serveConfiguredFs(hadoopConf: Configuration): Unit = {
    val cached = FileSystem.get(LocalRoot, hadoopConf)
    if (cached.getClass != FileSystem.getFileSystemClass("file", hadoopConf))
      GraftFsCache.evict(cached, LocalRoot, hadoopConf)
  }
}
