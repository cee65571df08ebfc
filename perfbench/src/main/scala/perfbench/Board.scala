package perfbench

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SparkEntry, Tables}

/** A fixed slice of `SparkEntry.queries`, each row built and written to
  * parquet from an empty cache, one at a time, in repeated passes over the
  * slice. The written results are what `run.py` compares with DuckDB
  * running the row's `SparkEntry.oracleSql`.
  */
object Board {

  /** Timed passes over the slice a run makes at the least: a row's time
    * is its median over them, so one pass that the host slowed down does
    * not move it.
    */
  val MinTimedPasses = 3

  val Modules: Seq[(String, Seq[graft.Q])] = Seq(
    "Relational" -> graft.queries.Relational.defs,
    "Protocol" -> graft.queries.Protocol.defs,
    "Marine" -> graft.queries.Marine.defs,
    "PipelineQueries" -> graft.queries.PipelineQueries.defs,
    "StateQueries" -> graft.queries.StateQueries.defs,
    "DedupQueries" -> graft.queries.DedupQueries.defs,
    "TextQueries" -> graft.queries.TextQueries.defs)

  def isReplay(name: String): Boolean =
    name.startsWith("st_stream_") || name.startsWith("dd_stream_")

  /** Scheduler-side counters, read before and after each row. */
  final class Counters extends SparkListener {
    val jobsStarted, stages, tasks, shuffleWrite, shuffleRead, spill = new AtomicLong()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.incrementAndGet()
      tasks.addAndGet(i.numTasks)
      val m = i.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def snapshot: Map[String, Long] = Map(
      "jobs" -> jobsStarted.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "shuffle_write_bytes" -> shuffleWrite.get, "shuffle_read_bytes" -> shuffleRead.get,
      "spill_bytes" -> spill.get)
  }

  /** Replay rows' micro-batches, from their progress reports. */
  final class ReplayProgress extends StreamingQueryListener {
    val batches, stateCommitMs, stateRows = new AtomicLong()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) batches.incrementAndGet()
      p.stateOperators.foreach { s =>
        stateCommitMs.addAndGet(s.commitTimeMs)
        stateRows.addAndGet(s.numRowsTotal)
      }
    }
  }

  def run(args: Main.Args, trace: Trace, result: Json.Obj): Unit = {
    val sf = args.opts("sf")
    val cpus = args.opts.getOrElse("cpus", "4").toInt
    val slice = Files.readAllLines(java.nio.file.Paths.get(args.opts("slice"))).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val moduleOf = Modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
    val missing = slice.filterNot(moduleOf.contains)
    require(missing.isEmpty, s"slice rows not registered: ${missing.mkString(",")}")

    val spark = trace.span("SparkSession.builder")(Main.session(args.work, cpus))

    // Set-up, several times: the fixture tables resolved and the query
    // registry built. The last registry is the one measured.
    val setupSec = mutable.ArrayBuffer.empty[Double]
    var registry: Map[String, (SparkSession, String) => DataFrame] = null
    for (_ <- 1 to Main.Setups) {
      val t0 = System.nanoTime()
      trace.span("setup") {
        Tables.all.foreach { t =>
          if (Files.exists(java.nio.file.Paths.get(s"$sf/$t.parquet")))
            Tables.load(spark, sf, t).schema
        }
        registry = SparkEntry.queries
      }
      setupSec += (System.nanoTime() - t0) / 1e9
    }
    result.put("setup_s", setupSec.toSeq)
    val counters = new Counters
    if (args.trace) spark.sparkContext.addSparkListener(counters)
    def settle(): Unit =
      if (args.trace) org.apache.spark.sql.graft.ListenerBridge.drainListenerBus(spark.sparkContext)
    val oracle = SparkEntry.oracleSql
    val outDir = args.work.resolve("board")

    def runRow(name: String, pass: Int, parent: String): Json.Obj = {
      spark.catalog.clearCache()
      val replay = isReplay(name)
      // replay rows scope-set session conf as a fixture knob: give each a clone
      val sess = if (replay) spark.newSession() else spark
      val replayProgress = new ReplayProgress
      if (args.trace && replay) sess.streams.addListener(replayProgress)
      settle()
      val before = counters.snapshot
      val rowId = trace.newId()
      val r0 = trace.nowMs
      val t0 = System.nanoTime()
      var buildMs, planMs = 0.0
      var buildJobs = 0L
      var cacheScans, cacheHits = 0
      val error =
        try {
          val df = registry(name)(sess, sf)
          buildMs = (System.nanoTime() - t0) / 1e6
          trace.record("build", rowId, r0, trace.nowMs)
          if (args.trace) {
            settle()
            buildJobs = counters.jobsStarted.get - before("jobs")
            val p0 = System.nanoTime()
            val scans = cachedScans(df.queryExecution.executedPlan)
            planMs = (System.nanoTime() - p0) / 1e6
            cacheScans = scans.size
            cacheHits = scans.count(_.relation.cacheBuilder.isCachedColumnBuffersLoaded)
          }
          val w0 = trace.nowMs
          df.write.mode("overwrite").parquet(outDir.resolve(s"p$pass").resolve(name).toString)
          trace.record("write", rowId, w0, trace.nowMs)
          None
        } catch { case t: Throwable => Some(String.valueOf(t).take(300)) }
      val sec = (System.nanoTime() - t0) / 1e9
      trace.record(s"row $name", parent, r0, trace.nowMs, id = rowId)
      try sess.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => sess.catalog.dropTempView(t.name))
      catch { case _: Throwable => () }
      graft.streaming.FileReplay.purgePsinks()
      settle()
      if (args.trace && replay) sess.streams.removeListener(replayProgress)
      val after = counters.snapshot
      val o = new Json.Obj().put("name", name).put("module", moduleOf(name))
        .put("replay", replay).put("pass", pass).put("s", sec).put("error", error)
        .put("oracle", oracle.get(name))
      if (args.trace) {
        after.foreach { case (k, v) => o.put(k, v - before(k)) }
        o.put("build_jobs", buildJobs).put("build_ms", buildMs).put("plan_ms", planMs)
          .put("exec_ms", sec * 1000 - buildMs - planMs)
          .put("cache_scans", cacheScans).put("cache_hits", cacheHits)
          .put("replay_batches", replayProgress.batches.get)
          .put("state_commit_ms", replayProgress.stateCommitMs.get)
          .put("state_rows", replayProgress.stateRows.get)
      }
      o
    }

    // Pass 0 warms the JVM up (class loading, code generation, JIT) and is
    // not timed; then whole timed passes until the measured window is
    // used, at least MinTimedPasses of them. Every pass is checked.
    val rows = mutable.ArrayBuffer.empty[Json.Obj]
    def runPass(pass: Int): Unit = {
      val (id, p0) = (trace.newId(), trace.nowMs)
      slice.foreach(n => rows += runRow(n, pass, id))
      trace.record(if (pass == 0) "warm-up pass" else s"pass $pass", "run", p0, trace.nowMs, id = id)
    }
    runPass(0)
    val windowNs = args.seconds * 1000000000L
    val m0 = System.nanoTime()
    var pass = 1
    while (pass <= MinTimedPasses || System.nanoTime() - m0 < windowNs) {
      runPass(pass)
      pass += 1
    }
    result.put("rows", rows).put("results_dir", outDir.toString)
  }

  private def cachedScans(plan: SparkPlan): Seq[InMemoryTableScanExec] = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    root.collect { case s: InMemoryTableScanExec => s }
  }
}
