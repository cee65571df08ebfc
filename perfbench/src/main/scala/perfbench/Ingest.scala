package perfbench

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.{DcafsXml, LineSinks, LineSources, PathCompiler}
import graft.sinks.FileCollectorSink
import graft.streaming.{RtVals, ValAlert, ValSnapshot, ValUpdate}

/** The product path under load: settings.xml `<stream type="tcp">`
  * declarations and one filter -> math -> editor -> store `<path>`, through
  * `DcafsXml.parseSettings`, `LineSources.fromSpec`, `PathCompiler`,
  * `RtVals.snapshots`/`RtVals.alerts`, `LineSinks.jdbc` into embedded Derby
  * and `FileCollectorSink` for the raw lines. Each sink is its own
  * streaming query, as the sink entry points build them.
  *
  * The sensors are TCP servers in `run.py`; this side asks it to send and
  * waits, bounded, until every query has consumed what was sent.
  */
object Ingest {

  val Queries: Seq[String] = Seq("derby", "file", "rtvals", "alerts")
  val AlertHigh = 150.0
  val AlertLow = 100.0
  /** Backlogs in the drain phase; the drain rate is their median. Each
    * stays under FileCollectorSink's per-batch cap of 100 000 lines, so
    * the raw-line check can hold.
    */
  val DrainRounds = 3

  /** The settings document the workload deploys; ports are the sensors'. */
  def settingsXml(ports: Seq[Int]): String = {
    val streams = ports.zipWithIndex.map { case (p, i) =>
      s"""    <stream id="sensor$i" type="tcp">
         |      <address>127.0.0.1:$p</address>
         |      <label>sensor$i</label>
         |    </stream>""".stripMargin
    }.mkString("\n")
    s"""<das>
       |  <streams>
       |$streams
       |  </streams>
       |  <paths>
       |    <path id="readings" delimiter=",">
       |      <filter type="nostart">#</filter>
       |      <math><op>i2=i2*0.25-40</op></math>
       |      <editor type="rexremove">\\*[0-9A-F]{2}$$</editor>
       |      <store>
       |        <text i="1">vkey</text>
       |        <real i="2">reading</real>
       |        <int i="3">seq</int>
       |        <int i="4">sent_ms</int>
       |      </store>
       |    </path>
       |  </paths>
       |</das>
       |""".stripMargin
  }

  /** One micro-batch as the progress reporter described it. */
  final case class BatchRec(query: String, id: Long, startMs: Long, endMs: Long,
      rows: Long, durations: Map[String, Long], stateCommitMs: Long,
      stateRows: Long, stateBytes: Long, stateUpdated: Long)

  final class Progress extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
    val consumed = new ConcurrentHashMap[String, java.lang.Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators
      batches.add(BatchRec(p.name, p.batchId, start,
        start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsUpdated).sum))
      // lines read so far, from the sources' offsets (a TCP source's offset
      // counts its lines): numInputRows counts a row once per job that reads
      // the batch, and FileCollectorSink.write reads it twice
      val read = p.sources.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).sum
      consumed.merge(p.name, read, (a, b) => math.max(a, b))
    }
    def consumedBy(q: String): Long = Option(consumed.get(q)).map(_.longValue).getOrElse(0L)
  }

  /** A started deployment of the settings document. */
  final class Deployment(val spark: SparkSession, val progress: Progress,
      val queries: Seq[StreamingQuery], val derbyUrl: String, val table: String,
      val path: graft.PathSpec, val fileOut: Path, val compileMs: Double,
      val snapshots: ConcurrentHashMap[String, ValSnapshot],
      val alerts: ConcurrentHashMap[String, java.lang.Long]) {
    def failure: Option[Throwable] = queries.flatMap(_.exception).headOption

    /** Stop every sink query, all at once: each stop waits for its stream
      * thread, and those waits need not add up.
      */
    def stop(): Unit = {
      val ts = queries.map(q => new Thread(() => q.stop()))
      ts.foreach(_.start())
      ts.foreach(_.join())
      spark.streams.removeListener(progress)
    }
  }

  def run(args: Main.Args, trace: Trace, result: Json.Obj): Unit = {
    val ports = args.opts("ports").split(",").map(_.toInt).toSeq
    val cpus = args.opts.getOrElse("cpus", "4").toInt
    val ctl = new Control(args.opts("ctl").toInt)
    System.setProperty("derby.system.home", args.work.resolve("derby").toString)
    System.setProperty("derby.stream.error.file",
      args.work.resolve("derby").resolve("derby.log").toString)
    Files.createDirectories(args.work.resolve("derby"))

    val deadlineNs = System.nanoTime() + 150L * 1000000000L
    val spark = trace.span("SparkSession.builder")(Main.session(args.work, cpus))

    // Set-up, several times: the settings document parsed and compiled,
    // every sink query started and every sensor connection open. The last
    // deployment is the one measured.
    val setupSec = mutable.ArrayBuffer.empty[Double]
    // every deployment's progress reports, for the trace; the stopped
    // deployments themselves are let go
    val progress = mutable.ArrayBuffer.empty[(Int, Progress)]
    var dep: Deployment = null
    for (k <- 1 to Main.Setups) {
      if (dep != null) {
        dep.stop()
        ctl.call("reset")
      }
      val t0 = System.nanoTime()
      val (parent, s0) = (trace.newId(), trace.nowMs)
      dep = deploy(spark, args, k, ports, trace, parent)
      progress += k -> dep.progress
      ctl.call(s"connect ${Queries.size}")
      setupSec += (System.nanoTime() - t0) / 1e9
      trace.record("setup", "run", s0, trace.nowMs, id = parent)
    }
    result.put("setup_s", setupSec.toSeq).put("compile_ms", dep.compileMs)

    // Measurement: the steady phase, sensors on their schedule for the run
    // length, then the drain phase, backlogs written as fast as the
    // connections take them. Each step ends when every query has read all
    // that was sent.
    var sent = ctl.call(s"steady ${args.seconds}").head.toLong
    Ingest.waitConsumed(dep, sent, deadlineNs)
    for (_ <- 1 to DrainRounds) {
      sent += ctl.call("drain").head.toLong
      Ingest.waitConsumed(dep, sent, deadlineNs)
    }
    ctl.call("bye")
    // listener delivery is asynchronous: the counts above come from it,
    // so every batch that moved them is already recorded
    dep.stop()
    result.put("lines_sent", sent)

    dumpDerby(dep, result)
    result.put("snapshots", dep.snapshots.asScala.map { case (k, s) =>
      k -> Seq(s.last, s.min, s.max, s.count.toDouble, s.avg)
    })
    result.put("alerts", dep.alerts.asScala.map { case (k, v) => k -> v.longValue })
    result.put("file_out", dep.fileOut.toString)
    result.put("batches", dep.progress.batches.asScala.toSeq.sortBy(b => (b.query, b.id)).map { b =>
      new Json.Obj().put("q", b.query).put("id", b.id).put("start", b.startMs)
        .put("end", b.endMs).put("rows", b.rows).put("d", b.durations)
        .put("state_commit_ms", b.stateCommitMs).put("state_rows", b.stateRows)
        .put("state_bytes", b.stateBytes).put("state_updated", b.stateUpdated)
    })
    if (args.trace) {
      progress.foreach { case (k, p) => recordBatchSpans(k, p, trace) }
      result.put("static_lines_per_s", staticRate(dep, trace))
    }
    ctl.close()
  }

  /** Wait, bounded, until every sink query of `dep` has read `target`
    * lines; a failed or stuck query fails the run.
    */
  private def waitConsumed(dep: Deployment, target: Long, deadlineNs: Long): Long = {
    while (Queries.exists(q => dep.progress.consumedBy(q) < target)) {
      dep.failure.foreach(t => throw new IllegalStateException("a sink query failed", t))
      if (System.nanoTime() > deadlineNs)
        throw new IllegalStateException(s"stream stuck: consumed " +
          Queries.map(q => s"$q=${dep.progress.consumedBy(q)}").mkString(",") +
          s" of $target lines")
      Thread.sleep(2)
    }
    System.currentTimeMillis()
  }

  private def deploy(spark: SparkSession, args: Main.Args, k: Int, ports: Seq[Int],
      trace: Trace, parent: String): Deployment = {
    val progress = new Progress
    spark.streams.addListener(progress)
    val settings = trace.span("DcafsXml.parseSettings", parent)(
      DcafsXml.parseSettings(settingsXml(ports)))
    val raw = trace.span("LineSources.fromSpec", parent)(
      settings.streams.map(s => LineSources.fromSpec(spark, s)).reduce(_ unionByName _))
    val path = settings.paths.head
    val c0 = System.nanoTime()
    val stored = trace.span("PathCompiler.compile", parent)(PathCompiler.compile(path, raw))
    val compileMs = (System.nanoTime() - c0) / 1e6

    val run = args.work.resolve(s"deploy$k")
    def cp(q: String) = run.resolve("checkpoints").resolve(q).toString
    val table = s"READINGS$k"
    val derbyUrl = s"jdbc:derby:${args.work.resolve("derby").resolve("db")};create=true"
    val conn = DriverManager.getConnection(derbyUrl)
    try conn.createStatement().execute(
      s"CREATE TABLE $table (line VARCHAR(200), vkey VARCHAR(40), reading DOUBLE, " +
        "seq BIGINT, sent_ms BIGINT, ins_ts TIMESTAMP DEFAULT CURRENT_TIMESTAMP)")
    finally conn.close()

    val updates: Dataset[ValUpdate] = stored
      .select(col("vkey").as("key"), col("reading").as("value"), col("seq").as("ts"))
      .as(Encoders.product[ValUpdate])
    val snapshots = new ConcurrentHashMap[String, ValSnapshot]()
    val alerts = new ConcurrentHashMap[String, java.lang.Long]()
    val fileOut = run.resolve("raw")

    val queries = trace.span("start queries", parent) {
      val derbyQ = LineSinks.jdbc(stored, derbyUrl, table)
        .option("checkpointLocation", cp("derby")).queryName("derby").start()
      val sink = new FileCollectorSink(fileOut.resolve("raw.log").toString)
      val fileQ = raw.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          val t0 = trace.nowMs
          sink.write(b)
          trace.record("FileCollectorSink.write", s"d$k/file/$id", t0, trace.nowMs)
          ()
        }
        .option("checkpointLocation", cp("file")).queryName("file").start()
      val snapQ = RtVals.snapshots(updates).writeStream.outputMode("update")
        .foreachBatch { (b: Dataset[ValSnapshot], _: Long) =>
          b.collect().foreach(s => snapshots.put(s.key, s)); ()
        }
        .option("checkpointLocation", cp("rtvals")).queryName("rtvals").start()
      val alertQ = RtVals.alerts(updates, AlertHigh, AlertLow).writeStream
        .outputMode("append")
        .foreachBatch { (b: Dataset[ValAlert], _: Long) =>
          b.collect().foreach(a => alerts.merge(s"${a.key}|${a.kind}", 1L, (x, y) => x + y)); ()
        }
        .option("checkpointLocation", cp("alerts")).queryName("alerts").start()
      Seq(derbyQ, fileQ, snapQ, alertQ)
    }
    new Deployment(spark, progress, queries, derbyUrl, table, path, fileOut,
      compileMs, snapshots, alerts)
  }

  /** Derby's side of the check, and the insert times latency is built on. */
  private def dumpDerby(dep: Deployment, result: Json.Obj): Unit = {
    val conn = DriverManager.getConnection(dep.derbyUrl)
    try {
      val st = conn.createStatement()
      val perKey = mutable.LinkedHashMap.empty[String, Seq[Double]]
      val rs = st.executeQuery(
        s"SELECT vkey, COUNT(*), SUM(reading), MIN(reading), MAX(reading) FROM ${dep.table} GROUP BY vkey")
      while (rs.next())
        perKey(rs.getString(1)) = Seq(rs.getLong(2).toDouble, rs.getDouble(3),
          rs.getDouble(4), rs.getDouble(5))
      result.put("derby_keys", perKey)
      // (scheduled send ms, insert ms) -> lines; lines of one batch share
      // an insert millisecond or a few, so this stays small
      val groups = mutable.HashMap.empty[(Long, Long), Long]
      val rs2 = st.executeQuery(s"SELECT sent_ms, ins_ts FROM ${dep.table}")
      while (rs2.next()) {
        val key = (rs2.getLong(1), rs2.getTimestamp(2).getTime)
        groups(key) = groups.getOrElse(key, 0L) + 1L
      }
      result.put("derby_rows", groups.valuesIterator.sum)
      result.put("inserts", groups.toSeq.sorted.map { case ((s, i), n) => Seq(s, i, n) })
    } finally conn.close()
  }

  /** Each micro-batch of deployment `k`'s queries as a span; the file
    * query's `FileCollectorSink.write` spans name these as parents.
    */
  private def recordBatchSpans(k: Int, progress: Progress, trace: Trace): Unit =
    progress.batches.asScala.foreach { b =>
      trace.record(s"${b.query}.microbatch", "run", b.startMs.toDouble, b.endMs.toDouble,
        id = s"d$k/${b.query}/${b.id}", attrs = Map("rows" -> b.rows, "durations" -> b.durations))
    }

  /** The same lines through `PathCompiler.compile` as one batch frame:
    * the path's per-line cost without any streaming overhead.
    */
  private def staticRate(dep: Deployment, trace: Trace): Double = {
    val lines = dep.spark.read.text(dep.fileOut.resolve("raw.log").toString)
      .select(col("value").as("line"))
    val cached = lines.cache()
    val n = cached.count()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      trace.span("PathCompiler.compile static") {
        PathCompiler.compile(dep.path, cached).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    cached.unpersist()
    n / Main.median(times)
  }
}
