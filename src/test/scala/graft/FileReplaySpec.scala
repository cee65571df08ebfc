package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FileReplay staging semantics: chunked replay order, empty-chunk
  * tolerance, and the staging LRU's reuse key — the round-10 collision
  * class (canonicalized plans erase aliases, so two stagings of the same
  * computation under different output names must NOT share files).
  */
class FileReplaySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("chunks replay in ascending order with exact batch boundaries") {
    val df = (1L to 100L).toDF("id")
    val replay = graft.streaming.FileReplay.stage(df,
      graft.streaming.FileReplay.rangeChunks(df, col("id"), 4))
    assert(replay.chunkIds == Seq(0, 1, 2, 3))
    val sink = "file_replay_spec_order"
    val q = replay.stream
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    try replay.chunkIds.foreach { i =>
      replay.feed(q, i)
      val now = spark.table(sink).count()
      seen += now
    } finally { q.stop(); replay.close() }
    // each boundary lands exactly one ascending id-range chunk
    assert(seen.toSeq == Seq(25L, 50L, 75L, 100L))
    spark.catalog.dropTempView(sink)
  }

  test("same computation under different aliases does not share staged files") {
    val base = (1L to 10L).toDF("id")
    val asKey = base.select(col("id"), md5(col("id").cast("string")).as("key"))
    val asK = base.select(col("id"), md5(col("id").cast("string")).as("k"))
    val r1 = graft.streaming.FileReplay.stage(asKey, lit(0))
    val r2 = graft.streaming.FileReplay.stage(asK, lit(0))
    try {
      assert(r1.stream.columns.toSeq == Seq("id", "key"))
      assert(r2.stream.columns.toSeq == Seq("id", "k"),
        "alias-erasing canonical key leaked another staging's schema")
    } finally { r1.close(); r2.close() }
  }

  test("staging is reused for the same frame; empty chunks are tolerated") {
    val df = (1L to 50L).toDF("id").filter(col("id") =!= 25L)
    // chunk expr with a hole: ids 1..24 -> 0, 26..50 -> 2 (chunk 1 empty)
    val chunk = when(col("id") < 25, 0).otherwise(2)
    val r1 = graft.streaming.FileReplay.stage(df, chunk)
    val r2 = graft.streaming.FileReplay.stage(df, chunk)
    try {
      assert(r1.chunkIds == Seq(0, 2) && r2.chunkIds == Seq(0, 2))
      // publishing a missing chunk is a no-op, present chunks link fine
      r1.publish(1)
      r1.publish(0); r1.publish(2)
      r2.publish(0); r2.publish(2)
      assert(r1.staged.count() == 49 && r2.staged.count() == 49)
    } finally { r1.close(); r2.close() }
  }

  test("replayToParquet psink dirs are reclaimed by purgePsinks") {
    // round-13 ADVICE: each replay rep leaked a corpus-sized parquet
    // output + checkpoint under java.io.tmpdir; the purge hook must
    // delete them once the returned frame has been consumed. Asserts on
    // THIS JVM's tracked dirs, not a global tmpdir count — a concurrent
    // bench/test JVM creating its own psinks must not flake this spec
    // (round-14 ADVICE)
    graft.streaming.FileReplay.purgePsinks()
    val df = (1L to 20L).toDF("id")
    val r = graft.streaming.FileReplay.stage(df, when(col("id") < 10, 0).otherwise(1))
    val out = try {
      graft.streaming.FileReplay.replayToParquet(
        r.stream.select(col("id")), 4)(r.feedAll)
    } finally r.close()
    assert(out.count() == 20) // fully consumed before the purge
    val mine = graft.streaming.FileReplay.trackedPsinks
    assert(mine.nonEmpty, "replayToParquet should have tracked a psink dir")
    assert(mine.forall(java.nio.file.Files.isDirectory(_)),
      "tracked psink dirs should exist before the purge")
    graft.streaming.FileReplay.purgePsinks()
    assert(mine.forall(!java.nio.file.Files.exists(_)),
      "purgePsinks must delete every tracked psink dir")
    assert(graft.streaming.FileReplay.trackedPsinks.isEmpty,
      "purgePsinks must empty this JVM's registry")
  }
}
