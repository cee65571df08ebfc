package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.security.PrivilegedExceptionAction

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, GraftFsCache, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.graft.{ExtensionsSpec, GraftOptimizations}
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{LocalIo, NioLocalFileSystem}
import graft.streaming.LocalCheckpointFileManager

/** Fork-free local I/O bound once on the SparkContext: the graft `file:`
  * filesystem sets the same permissions as Hadoop's, and every session
  * on the context resolves it and the fork-free checkpoint manager
  * through `newHadoopConf()`: the engine session, sessions built
  * elsewhere that call `install`, and the `newSession()` children of
  * either, unless a session's own conf names another manager.
  */
class LocalIoSpec extends AnyFunSuite {
  private def engine = ExtensionsSpec.engine
  private val Root = URI.create("file:///")

  private def fsOf(s: SparkSession): FileSystem = FileSystem.get(Root, s.sessionState.newHadoopConf())

  private def managerOf(s: SparkSession): CheckpointFileManager =
    CheckpointFileManager.create(new Path(Files.createTempDirectory("graft-localio").toUri),
      s.sessionState.newHadoopConf())

  test("setPermission leaves the same mode bits as Hadoop's chmod") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    val nio = new NioLocalFileSystem.Raw
    stock.initialize(Root, conf)
    nio.initialize(Root, conf)
    val d = Files.createTempDirectory("graft-localio")
    for (mode <- Seq("600", "644", "700", "755", "777")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val Seq(a, b) = Seq("stock", "nio").map(n => Files.createFile(d.resolve(s"$n$mode")))
      stock.setPermission(new Path(a.toUri), perm)
      nio.setPermission(new Path(b.toUri), perm)
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), mode)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(b)) == perm.toString, mode)
    }
  }

  test("the engine session and its newSession() resolve the graft filesystem") {
    assert(fsOf(engine).isInstanceOf[NioLocalFileSystem])
    assert(fsOf(engine.newSession()).isInstanceOf[NioLocalFileSystem])
    assert(managerOf(engine.newSession()).getClass == classOf[LocalCheckpointFileManager])
  }

  test("install binds the context: a session built without the dialect and its children") {
    val hc = engine.sparkContext.hadoopConfiguration
    try {
      // the context as a plain builder leaves it: neither key set, and a
      // stock `file:` FileSystem cached (SharedState caches one)
      LocalIo.Binding.foreach { case (k, _) => hc.unset(k) }
      GraftFsCache.evict(FileSystem.get(Root, hc), Root, hc)
      assert(!FileSystem.get(Root, hc).isInstanceOf[NioLocalFileSystem])
      val s = ExtensionsSpec.plain()
      val before = s.newSession()
      assert(managerOf(before).getClass == classOf[FileContextBasedCheckpointFileManager])
      GraftOptimizations.install(s)
      for (x <- Seq(s, before, s.newSession())) {
        assert(fsOf(x).isInstanceOf[NioLocalFileSystem])
        assert(managerOf(x).getClass == classOf[LocalCheckpointFileManager])
      }
    } finally LocalIo.bind(hc)
  }

  test("a session's own checkpoint manager choice wins over the binding") {
    val s = engine.newSession()
    s.conf.set(LocalIo.CheckpointManagerKey, classOf[FileContextBasedCheckpointFileManager].getName)
    assert(managerOf(s).getClass == classOf[FileContextBasedCheckpointFileManager])
  }

  test("bind evicts a cached stock filesystem without closing it") {
    // under a user of its own, so the cache entry the test context uses
    // is not touched
    val ugi = UserGroupInformation.createRemoteUser("graft-localio")
    val keep = Files.createTempFile("graft-localio", ".keep")
    try ugi.doAs(new PrivilegedExceptionAction[Unit] {
      def run(): Unit = {
        val conf = new Configuration()
        val stock = FileSystem.get(Root, conf)
        assert(!stock.isInstanceOf[NioLocalFileSystem])
        stock.deleteOnExit(new Path(keep.toUri))
        LocalIo.bind(conf)
        assert(FileSystem.get(Root, conf).isInstanceOf[NioLocalFileSystem])
        assert(Files.exists(keep), "eviction must not run the instance's deleteOnExit")
        assert(stock.exists(new Path(keep.toUri)), "the evicted instance must keep working")
        stock.cancelDeleteOnExit(new Path(keep.toUri))
      }
    })
    finally {
      FileSystem.closeAllForUGI(ugi)
      Files.deleteIfExists(keep)
    }
  }

  test("a parquet write and read round-trip through the graft filesystem") {
    val out: JPath = Files.createTempDirectory("graft-localio").resolve("t")
    val df = engine.range(0, 1000, 1, 4).selectExpr("id", "id * 3 AS v", "CAST(id AS STRING) AS s")
    df.write.parquet(out.toString)
    assert(FileSystem.get(out.toUri, engine.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem])
    val back = engine.read.parquet(out.toString)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    assert(Files.exists(out.resolve("_SUCCESS")))
  }
}
