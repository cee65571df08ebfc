package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{FileCollectorSink, RolloverCompat}

/** K5 file-collector parity vs the reference FileCollector.java: rollover
  * naming + zip, max-size split naming + zip, IDLE/ROLLOVER/MAXSIZE
  * trigger commands, headers with {file}, exact skipCount decimation.
  */
class FileCollectorSpec extends AnyFunSuite {

  private def tmp() = Files.createTempDirectory("graft-fc").toFile.getAbsolutePath

  private def ms(s: String): Long = java.sql.Timestamp.valueOf(s).getTime

  test("rollover inserts the form before the extension and zips the old file") {
    val dir = tmp()
    val fired = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val sink = new FileCollectorSink(s"$dir/data.csv",
      rollPattern = Some("yyyy-MM-dd_HH"), zipRoll = true,
      onTrigger = (t, p) => fired += ((t, p)))
    sink.processBatch(Seq(
      (ms("2024-03-01 10:15:00"), "a"),
      (ms("2024-03-01 10:45:00"), "b"),
      (ms("2024-03-01 11:05:00"), "c")))
    // hour 10 rolled: zipped and deleted; hour 11 live
    assert(Files.exists(Paths.get(s"$dir/data2024-03-01_10.csv.zip")))
    assert(!Files.exists(Paths.get(s"$dir/data2024-03-01_10.csv")))
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/data2024-03-01_11.csv"))) == "c\n")
    assert(fired.toSeq == Seq(("ROLLOVER", s"$dir/data2024-03-01_10.csv.zip")))
  }

  test("{rollover} placeholder positions the form explicitly") {
    val dir = tmp()
    val sink = new FileCollectorSink(s"$dir/log_{rollover}.txt",
      rollPattern = Some("yyyyMMdd"))
    sink.processBatch(Seq((ms("2024-03-01 10:00:00"), "x")))
    assert(Files.exists(Paths.get(s"$dir/log_20240301.txt")))
  }

  test("max-size split renames to name.N.ext, zips, fires MAXSIZE") {
    val dir = tmp()
    val fired = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val sink = new FileCollectorSink(s"$dir/data.csv",
      maxBytes = 10, zipMaxBytes = true,
      onTrigger = (t, p) => fired += ((t, p)))
    sink.processBatch(Seq(
      (0L, "0123456789"),   // hits 10 bytes -> split 1
      (0L, "abcdefghij"),   // split 2
      (0L, "z")))           // stays live
    assert(Files.exists(Paths.get(s"$dir/data.1.csv.zip")))
    assert(Files.exists(Paths.get(s"$dir/data.2.csv.zip")))
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/data.csv"))) == "z\n")
    assert(fired.map(_._1).toSeq == Seq("MAXSIZE", "MAXSIZE"))
  }

  test("one 50-line batch writes the same files and triggers as 50 one-line batches") {
    // the sink keeps one writer open per batch: headers, ROLLOVER and the
    // MAXSIZE split must land on the same lines as a per-line append
    def run(batches: Seq[Seq[(Long, String)]]): (Map[String, String], Seq[(String, String)]) = {
      val dir = tmp()
      val fired = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val sink = new FileCollectorSink(s"$dir/data.csv",
        rollPattern = Some("yyyy-MM-dd_HH"), zipRoll = true, maxBytes = 120,
        headers = Seq("# {file}"), onTrigger = (t, p) => fired += ((t, p.stripPrefix(dir))))
      batches.foreach(sink.processBatch)
      val files = new java.io.File(dir).listFiles().map { f =>
        val body =
          if (f.getName.endsWith(".zip")) {
            val zin = new java.util.zip.ZipInputStream(new java.io.FileInputStream(f))
            try { val e = zin.getNextEntry; e.getName + ":" + new String(zin.readAllBytes()) }
            finally zin.close()
          } else new String(Files.readAllBytes(f.toPath))
        f.getName -> body
      }.toMap
      (files, fired.toSeq)
    }
    val lines = (0 until 50).map(i =>
      (ms("2024-03-01 10:00:00") + i * 4L * 60 * 1000, f"line-$i%02d,${i * 7}"))
    val (whole, wholeFired) = run(Seq(lines))
    val (single, singleFired) = run(lines.map(Seq(_)))
    assert(whole == single)
    assert(wholeFired == singleFired)
    // the case covers every path: rolled zips, size splits, headers
    assert(wholeFired.map(_._1).toSet == Set("ROLLOVER", "MAXSIZE"))
    assert(whole.keys.exists(_.matches("""data2024-03-01_\d\d\.\d\.csv""")))
    assert(whole.values.forall(_.contains("# data2024-03-01_")))
  }

  test("dotted directories stay intact: forms and split indexes modify only the filename") {
    val dir = tmp()
    Files.createDirectories(Paths.get(s"$dir/v1.2"))
    val fired = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val roll = new FileCollectorSink(s"$dir/v1.2/log.csv",
      rollPattern = Some("yyyyMMdd"))
    roll.processBatch(Seq((ms("2024-03-01 10:00:00"), "a")))
    assert(Files.exists(Paths.get(s"$dir/v1.2/log20240301.csv")))
    val split = new FileCollectorSink(s"$dir/v1.2/data.csv", maxBytes = 5,
      onTrigger = (t, p) => fired += ((t, p)))
    split.processBatch(Seq((0L, "012345"), (0L, "z")))
    assert(Files.exists(Paths.get(s"$dir/v1.2/data.1.csv")))
    assert(fired.toSeq == Seq(("MAXSIZE", s"$dir/v1.2/data.1.csv")))
  }

  test("headers are written to every new file with {file} substituted") {
    val dir = tmp()
    val sink = new FileCollectorSink(s"$dir/data.csv",
      rollPattern = Some("yyyy-MM-dd"), headers = Seq("# {file}", "ts,val"))
    sink.processBatch(Seq(
      (ms("2024-03-01 10:00:00"), "1,a"),
      (ms("2024-03-02 10:00:00"), "2,b")))
    val d1 = new String(Files.readAllBytes(Paths.get(s"$dir/data2024-03-01.csv")))
    assert(d1 == "# data2024-03-01.csv\nts,val\n1,a\n")
    val d2 = new String(Files.readAllBytes(Paths.get(s"$dir/data2024-03-02.csv")))
    assert(d2.startsWith("# data2024-03-02.csv\n"))
  }

  test("decimation keeps exactly the Nth arrival (skipCount semantics)") {
    val dir = tmp()
    val sink = new FileCollectorSink(s"$dir/data.csv", decimation = 4)
    sink.processBatch((1 to 10).map(i => (0L, s"row$i")))
    val kept = new String(Files.readAllBytes(Paths.get(s"$dir/data.csv")))
      .split("\n").toSeq
    assert(kept == Seq("row4", "row8"), s"got $kept")
  }

  test("decimation counter persists across micro-batches") {
    val dir = tmp()
    val sink = new FileCollectorSink(s"$dir/data.csv", decimation = 3)
    sink.processBatch(Seq((0L, "r1"), (0L, "r2")))
    sink.processBatch(Seq((0L, "r3"), (0L, "r4"), (0L, "r5"), (0L, "r6")))
    val kept = new String(Files.readAllBytes(Paths.get(s"$dir/data.csv")))
      .split("\n").toSeq
    assert(kept == Seq("r3", "r6"), s"got $kept")
  }

  test("write() bounds a pathological high-volume batch and reports the overflow") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = tmp()
    var dropped = -1L
    val sink = new FileCollectorSink(s"$dir/data.csv",
      maxLinesPerBatch = 5, onDropped = n => dropped = n)
    // a round-robin shuffle spreads the earliest rows over 4 partitions,
    // so the kept set depends on merging every partition's head; the
    // checkpoint materializes that shuffle, so the job count below is
    // write()'s own
    val batch = (1 to 40).map(i => (s"row$i", new java.sql.Timestamp(i * 1000L)))
      .toDF("line", "ts").repartition(4).localCheckpoint()
    assert(batch.rdd.getNumPartitions == 4)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.ListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      sink.write(batch)
      org.apache.spark.sql.graft.ListenerBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    val kept = new String(Files.readAllBytes(Paths.get(s"$dir/data.csv")))
      .split("\n").toSeq
    assert(kept.length == 5, s"cap not applied: ${kept.length} lines written")
    assert(dropped == 35L, s"overflow misreported: $dropped")
    assert(kept == (1 to 5).map(i => s"row$i"), s"wrong rows kept: $kept")
    assert(jobs.get == 1, s"write() ran ${jobs.get} Spark jobs, not one")
  }

  test("IDLE fires once per idle episode after the timeout") {
    val dir = tmp()
    val fired = scala.collection.mutable.ArrayBuffer.empty[String]
    val sink = new FileCollectorSink(s"$dir/data.csv", idleTimeoutMs = 50,
      onTrigger = (t, _) => fired += t)
    sink.processBatch(Seq((0L, "a")))
    sink.checkIdle(System.currentTimeMillis() + 100)
    sink.checkIdle(System.currentTimeMillis() + 200) // same episode: no refire
    assert(fired.toSeq == Seq("IDLE"))
    sink.processBatch(Seq((0L, "b"))) // data clears the episode
    sink.checkIdle(System.currentTimeMillis() + 100)
    assert(fired.toSeq == Seq("IDLE", "IDLE"))
  }

  test("K4 rollover compat renamer maps partition dirs to rolled filenames") {
    val dir = tmp()
    Files.createDirectories(Paths.get(s"$dir/roll=2024-03-01_10"))
    Files.createDirectories(Paths.get(s"$dir/roll=2024-03-01_11"))
    Files.write(Paths.get(s"$dir/roll=2024-03-01_10/part-00000.csv"), "a\nb\n".getBytes)
    Files.write(Paths.get(s"$dir/roll=2024-03-01_10/part-00001.csv"), "c\n".getBytes)
    Files.write(Paths.get(s"$dir/roll=2024-03-01_10/_SUCCESS"), Array.empty[Byte])
    Files.write(Paths.get(s"$dir/roll=2024-03-01_11/part-00000.csv"), "d\n".getBytes)
    val produced = RolloverCompat.renameRolledDirs(dir, "sensors.csv")
      .map(_.getFileName.toString).sorted
    assert(produced == Seq("sensors2024-03-01_10.csv", "sensors2024-03-01_11.csv"))
    assert(new String(Files.readAllBytes(
      Paths.get(s"$dir/sensors2024-03-01_10.csv"))) == "a\nb\nc\n")
    // zipped variant
    val z = RolloverCompat.renameRolledDirs(dir, "z_{rollover}.csv", zip = true)
    assert(z.forall(p => p.toString.endsWith(".zip") && Files.exists(p)))
  }
}
