package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Out-of-core stress sweep (round-11 verdict task 1): run named board
  * rows against a scale fixture under a DELIBERATELY small heap and
  * record, per query, the evidence that the spill paths — not residency —
  * carried it: memory/disk bytes spilled and shuffle volume from the
  * stage metrics, alongside wall time and row count.
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/scale100 SPARK_DRIVER_MEM=4g \
  *     sbt "runMain graft.tools.StressSweep q_tpch9 q_tpch18 ..."
  *
  * One JSON line per query plus a closing summary line; zero errors and
  * nonzero spill on the heavy rows is the "working set exceeded RAM and
  * the query still finished" proof docs/SCALE_CURVES.md records.
  */
object StressSweep {

  private val spillMem = new java.util.concurrent.atomic.AtomicLong
  private val spillDisk = new java.util.concurrent.atomic.AtomicLong
  private val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
  private val peakExec = new java.util.concurrent.atomic.AtomicLong

  private def resetMetrics(): Unit = {
    spillMem.set(0); spillDisk.set(0); shuffleWrite.set(0); peakExec.set(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // the session the board runs on (EngineSession), graft rules included
    val spark = graft.EngineSession.create(master, cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          peakExec.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
        }
      }
    })
    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val selected =
      if (args.isEmpty) Seq("q_tpch9", "q_tpch18", "q_tpch21")
      else args.toSeq
    var errors = 0
    val out = selected.map { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      // pin the empty cache state per row (Bench convention) so spill
      // numbers measure the query, not a warm registry
      graft.operators.TextOps.releasePriorCaches()
      spark.catalog.clearCache()
      resetMetrics()
      val t0 = System.nanoTime()
      val (rows, status) =
        try (fn(spark, sfDir).count(), "ok")
        catch { case t: Throwable =>
          errors += 1
          System.err.println(s"[stress] $name FAILED: ${t.getMessage}")
          (-1L, "err")
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // quiesce: wait until the listener's counters stop moving for two
      // consecutive windows (cap 3 s) — a fixed sleep let a straggler
      // stage-completed event from query N land after query N+1's reset
      // and mis-attribute multi-GB spill (review finding)
      var quiet = 0
      var last = (-1L, -1L, -1L)
      var waited = 0
      while (quiet < 2 && waited < 10) {
        Thread.sleep(300); waited += 1
        val now = (spillMem.get, spillDisk.get, shuffleWrite.get)
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
      val line =
        f"""{"query":"$name","sec":$sec%.2f,"rows":$rows,"status":"$status","spill_mem_mb":${spillMem.get / (1024 * 1024)},"spill_disk_mb":${spillDisk.get / (1024 * 1024)},"shuffle_write_mb":${shuffleWrite.get / (1024 * 1024)},"peak_exec_mb":${peakExec.get / (1024 * 1024)}}"""
      println(line)
      line
    }
    println(
      s"""{"metric":"stress_sweep","sf":"$sfDir","heap_mb":$heapMb,"queries":${out.size},"errors":$errors}""")
    spark.stop()
    if (errors > 0) sys.exit(1)
  }
}
