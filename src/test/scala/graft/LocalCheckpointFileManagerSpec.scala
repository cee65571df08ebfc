package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The fork-free checkpoint writer: atomic visibility, cancel and
  * no-overwrite semantics of `createAtomic`, and checkpoint compatibility
  * with Spark's default (FileContext) manager in both directions.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  import LocalCheckpointFileManagerSpec._

  lazy val spark: SparkSession = SparkTestSession.spark

  private def dir(): JPath = Files.createTempDirectory("graft-lcfm")
  private def hpath(p: JPath) = new Path(p.toUri)
  private def local(d: JPath) = new LocalCheckpointFileManager(hpath(d), new Configuration())
  private def default(d: JPath) =
    new FileContextBasedCheckpointFileManager(hpath(d), new Configuration())

  private def write(fm: CheckpointFileManager, p: JPath, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(hpath(p), overwrite)
    out.write(s.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: JPath): String = {
    val in = fm.open(hpath(p))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def names(d: JPath): Set[String] = {
    val s = Files.list(d)
    try s.toArray.map(_.asInstanceOf[JPath].getFileName.toString).toSet
    finally s.close()
  }

  /** Every file under `d`, recursively. */
  private def tree(d: JPath): Seq[JPath] = {
    val s = Files.walk(d)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[JPath]).toSeq
    finally s.close()
  }

  /** Hadoop ChecksumFs sidecars (`.<name>.crc`), the mark of a write
    * through the forking path; Spark's own state-file checksums are
    * `<name>.crc` and written through the manager like any file.
    */
  private def hadoopCrcs(d: JPath): Seq[JPath] = tree(d).filter { p =>
    val n = p.getFileName.toString
    n.startsWith(".") && n.endsWith(".crc")
  }

  test("createAtomic: nothing is visible at the target before close") {
    val d = dir()
    val target = d.resolve("0")
    val out = local(d).createAtomic(hpath(target), false)
    out.write("v1\n{}".getBytes(StandardCharsets.UTF_8))
    assert(!Files.exists(target))
    out.close()
    assert(Files.readString(target) == "v1\n{}")
    assert(names(d) == Set("0"), "the temp file must be renamed, not copied")
  }

  test("cancel leaves neither the target nor a temp file") {
    val d = dir()
    val out = local(d).createAtomic(hpath(d.resolve("1")), true)
    out.write(Array[Byte](1, 2, 3))
    out.cancel()
    out.cancel()
    assert(names(d).isEmpty, s"left behind: ${names(d)}")
  }

  test("overwrite = false on an existing file throws FileAlreadyExistsException") {
    val d = dir()
    val target = d.resolve("2")
    write(local(d), target, "first", overwrite = false)
    val out = local(d).createAtomic(hpath(target), false)
    out.write("second".getBytes(StandardCharsets.UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // HDFSMetadataLog cancels after a failed close: a no-op
    assert(Files.readString(target) == "first")
    assert(names(d) == Set("2"))
  }

  test("overwriting a file the default manager wrote reads back through it") {
    val d = dir()
    val target = d.resolve("3")
    write(default(d), target, "written by the default manager", overwrite = false)
    assert(names(d).contains(".3.crc"), "precondition: the default manager writes a checksum")
    write(local(d), target, "new bytes", overwrite = true)
    assert(!names(d).contains(".3.crc"))
    assert(read(default(d), target) == "new bytes")
  }

  test("createCheckpointDirectory makes the same directories and path as the default manager") {
    val d = dir()
    val got = local(d.resolve("l/1/chk")).createCheckpointDirectory()
    val want = default(d.resolve("d/1/chk")).createCheckpointDirectory()
    assert(got.toString == want.toString.replace("/d/1/chk", "/l/1/chk"))
    for (rel <- Seq("1", "1/chk")) {
      val (mine, theirs) = (d.resolve(s"l/$rel"), d.resolve(s"d/$rel"))
      assert(Files.isDirectory(mine), rel)
      assert(Files.getPosixFilePermissions(mine) == Files.getPosixFilePermissions(theirs), rel)
    }
    val existing = d.resolve("l/1/chk")
    assert(local(existing).createCheckpointDirectory() ==
      default(existing).createCheckpointDirectory(), "an existing root")
  }

  test("a stateful query on an installed session writes no Hadoop .crc sidecars") {
    val in = dir()
    val cp = dir()
    val seen = new ConcurrentHashMap[String, Long]()
    val q = runningTotals(spark, in, cp, seen)
    try (1 to 10).foreach { i => feed(in, i); q.processAllAvailable() }
    finally q.stop()
    assert(q.lastProgress.batchId >= 9)
    assert(seen.get("a") == (1 to 10).sum.toLong)
    val files = tree(cp)
    assert(files.exists(_.toString.contains("/state/")), "the query must have kept state")
    val crc = hadoopCrcs(cp)
    assert(crc.isEmpty, s"written by the forking path: $crc")
  }

  test("a mapGroupsWithState checkpoint restarts across managers with its state intact") {
    // Spark's default, named on a child of the test session (unsetting
    // the key there would fall back to the context's binding)
    val plain = EngineSession.isolated(spark,
      ManagerKey -> classOf[FileContextBasedCheckpointFileManager].getName)
    for ((first, second) <- Seq((plain, spark), (spark, plain))) {
      val in = dir()
      val cp = dir()
      val seen = new ConcurrentHashMap[String, Long]()
      val q1 = runningTotals(first, in, cp, seen)
      try (1 to 3).foreach { i => feed(in, i); q1.processAllAvailable() }
      finally q1.stop()
      assert(hadoopCrcs(cp).nonEmpty == (first eq plain),
        "each phase must run under its own manager")
      val q2 = runningTotals(second, in, cp, seen)
      try (4 to 6).foreach { i => feed(in, i); q2.processAllAvailable() }
      finally q2.stop()
      // totals carried over the restart: 1+..+6 for "a", 2x that for "b"
      assert(seen.get("a") == 21L && seen.get("b") == 42L, s"totals: $seen")
    }
  }
}

object LocalCheckpointFileManagerSpec {
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Input file `i`: key "a" gets i, key "b" gets 2i. Written beside the
    * watched directory and moved in, so the source never sees it half
    * written.
    */
  def feed(in: JPath, i: Int): Unit = {
    val tmp = Files.createTempFile(in.getParent, "feed", ".json")
    Files.writeString(tmp, s"""{"k":"a","v":$i}\n{"k":"b","v":${2 * i}}\n""")
    Files.move(tmp, in.resolve(f"$i%03d.json"))
  }

  private def total(k: String, vs: Iterator[(String, Long)],
      st: GroupState[Long]): (String, Long) = {
    val t = st.getOption.getOrElse(0L) + vs.map(_._2).sum
    st.update(t)
    (k, t)
  }

  /** One file per batch; the running total per key lives in
    * mapGroupsWithState's state store and each batch's totals land in
    * `seen`.
    */
  def runningTotals(s: SparkSession, in: JPath, cp: JPath,
      seen: ConcurrentHashMap[String, Long]): StreamingQuery = {
    import s.implicits._
    s.readStream.schema("k STRING, v LONG").option("maxFilesPerTrigger", "1")
      .json(in.toString)
      .selectExpr("k AS _1", "v AS _2").as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout)(total _)
      .toDF("k", "t")
      .writeStream.outputMode("update")
      .option("checkpointLocation", cp.toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => seen.put(r.getString(0), r.getLong(1)))
      }
      .start()
  }
}
